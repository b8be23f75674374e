package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusPipeline

class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dup clusters: chain a-b-c collapses to one label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = CorpusPipeline.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("dup clusters: distributed paths match driver union-find") {
    // (7,7) pins self-pair contract parity: a node appearing ONLY in a
    // self-pair still gets its identity label on every path
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (12L, 11L),
        (7L, 7L))
      .toDF("id_a", "id_b")
    val driver = CorpusPipeline.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // integral ids route through Dedup.connectedComponents (large-star/
    // small-star — no silent round truncation); output id type is
    // preserved, not widened to long
    val distDf = CorpusPipeline.dupClusters(pairs, maxDriverPairs = 0L)
    assert(distDf.schema.fields(0).dataType ==
      org.apache.spark.sql.types.LongType)
    val dist = distDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist)
    assert(driver(5L) == 1L && driver(12L) == 10L && driver(7L) == 7L)
    // int ids: the CC path casts labels BACK to the input type
    val iPairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    val iDf = CorpusPipeline.dupClusters(iPairs, maxDriverPairs = 0L)
    assert(iDf.schema.fields(1).dataType == org.apache.spark.sql.types.IntegerType)
    assert(iDf.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1))
    // non-numeric ids go through the same components via an id remap —
    // same labeling
    val sPairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val sDriver = CorpusPipeline.dupClusters(sPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sDist = CorpusPipeline.dupClusters(sPairs, maxDriverPairs = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sDriver == sDist && sDist("c") == "a" && sDist("y") == "x")
  }

  test("dup clusters: a 12-node chain of string ids is one cluster on the distributed path") {
    // deeper than any fixed propagation budget: the labels must not over-split
    val ids = (1 to 12).map(i => f"d$i%02d")
    val chain = ids.zip(ids.tail).toDF("id_a", "id_b")
    val labels = CorpusPipeline.dupClusters(chain, maxDriverPairs = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels === ids.map(_ -> "d01").toMap)
    val longs = (1L to 12L).zip(2L to 12L).toDF("id_a", "id_b")
    assert(CorpusPipeline.dupClusters(longs, maxDriverPairs = 0L)
      .collect().map(_.getLong(1)).toSet === Set(1L))
  }

  test("full clean keeps one survivor per dup cluster and drops junk") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),                             // survivor
      (2L, base),                             // exact dup of 1
      (3L, base.replace("dog", "cat")),       // near dup of 1
      (4L, "!!!! ???? 1234 5678 @@@@ #### $$$$ %%%% ^^^^ &&&&"), // fails alpha gate
      (5L, "short text"),                     // fails min tokens
      (6L, "completely different words about catalyst optimizer physical plans and shuffles"),
    ).toDF("doc_id", "text")
    val r = CorpusPipeline.clean(docs, minTokens = 5, minAlphaRatio = 0.5,
      nearDupThreshold = 0.5)
    val kept = r.cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L), s"kept=$kept stats=${r.stats}")
    assert(r.stats.toMap.apply("input") == 6L)
    assert(r.stats.toMap.apply("quality") == 4L)     // 4 and 5 gated out
    assert(r.stats.toMap.apply("exact_dedup") == 3L) // 2 collapses into 1
    assert(r.stats.toMap.apply("near_dedup") == 2L)  // 3 collapses into 1

  }

  test("clean with a DsirPlane keeps target-leaning docs; default stats unchanged") {
    import graft.operators.Dsir
    val target = (100L until 108L)
      .map(i => (i, "climate model output grids with seasonal temperature anomalies"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "climate model output grids with seasonal temperature anomalies"),
      (2L, "climate model output shows seasonal temperature trends everywhere"),
      (3L, "xylophone quartet rehearses zesty jazz numbers downtown every evening"),
      (4L, "quarterly zebra auctions feature vintage xylophones and quartz gems"),
    ).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(
      Dsir.bucketHistogram(target, "text"), Dsir.bucketHistogram(docs, "text"))
    val r = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95,
      dsirPlane = Some(CorpusPipeline.DsirPlane(w, minScore = 0.0)))
    val kept = r.cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), s"kept=$kept stats=${r.stats}")
    assert(r.stats.toMap.apply("dsir") == 2L, r.stats.toString)
    // without the plane the stats keys are the default set (no dsir row)
    val base = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95)
    assert(!base.stats.toMap.contains("dsir"))
    assert(base.cleaned.count() == 4L)
  }

  test("clean with a CompressionPlane drops boilerplate and junk tails; default stats unchanged (r14)") {
    // doc 2: one sentence repeated — within-document boilerplate the
    // dedup stages cannot catch (it is ONE document); doc 3: base64-ish
    // junk from a hash chain (~6 bits/char — compresses worse than any
    // prose); docs 1 and 4: distinct long-form prose. Bounds are derived
    // from the MEASURED ratios (midpoints), so the test pins the
    // SEPARATION the plane exists for, not a zlib-version-specific value.
    val junk = (0 until 60).map(i =>
      java.util.Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"j$i".getBytes("UTF-8")))).mkString(" ")
    val prose1 = "climate model output grids contain seasonal temperature " +
      "anomalies measured across coastal stations during nineteen field " +
      "campaigns, while independent satellite retrievals confirm the " +
      "regional warming signal and its altitude dependence; researchers " +
      "archive every calibrated series alongside provenance metadata so " +
      "later reanalysis efforts can reproduce the screening decisions"
    val prose2 = "quarterly engineering reports describe vintage " +
      "instruments, quartz gemstones, and the restoration techniques " +
      "their collectors developed over decades of careful documentation; " +
      "each appendix catalogues provenance disputes, auction outcomes, " +
      "and the conservation chemistry that keeps fragile lacquer finishes " +
      "stable under museum lighting without discoloration"
    val docs = Seq(
      (1L, prose1),
      (2L, Seq.fill(40)("the same boilerplate sentence repeats here").mkString(" ")),
      (3L, junk),
      (4L, prose2),
    ).toDF("doc_id", "text")
    val ratios = graft.operators.TextAnalysis.compressionSignals(docs, "text", "doc_id")
      .orderBy("doc_id").collect().map(_.getDouble(3))
    assert(ratios(1) < ratios(0) && ratios(1) < ratios(3), ratios.toSeq)
    assert(ratios(2) > ratios(0) && ratios(2) > ratios(3), ratios.toSeq)
    val lo = (ratios(1) + math.min(ratios(0), ratios(3))) / 2
    val hi = (math.max(ratios(0), ratios(3)) + ratios(2)) / 2
    val r = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95,
      compressionPlane = Some(CorpusPipeline.CompressionPlane(lo, hi)))
    val kept = r.cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"kept=$kept stats=${r.stats} ratios=${ratios.toSeq}")
    assert(r.stats.toMap.apply("compression") == 2L, r.stats.toString)
    // the funnel stays monotonic: the inactive lang gate reports the
    // post-compression count, not the pre-compression one
    assert(r.stats.toMap.apply("lang") == 2L, r.stats.toString)
    // without the plane the stats keys are the default set (no row)
    val base = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95)
    assert(!base.stats.toMap.contains("compression"))
    assert(base.cleaned.count() == 4L)
    // the standalone filter is the same stateless condition
    assert(CorpusPipeline.compressionFilter(docs, "text",
      CorpusPipeline.CompressionPlane(lo, hi)).count() == 2L)
    // short documents pass untouched — overhead dominates their ratio,
    // so the plane owns only the >= minBytes regime
    val short = Seq((9L, "a tiny but perfectly legitimate sentence")).toDF("doc_id", "text")
    assert(CorpusPipeline.compressionFilter(short, "text",
      CorpusPipeline.CompressionPlane(lo, hi)).count() == 1L)
  }

  test("clean(normalize = true) unifies byte-different renderings before dedup") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      // same words, different bytes: a CRLF where doc 1 has a space, a
      // trailing tab run, and (docs 3/4) a decomposed accent NFC composes.
      // Contract (normalizeText scaladoc): CRLF→LF, controls stripped,
      // runs collapsed, edges trimmed — but an interior newline is NOT a
      // space (it is paragraph structure), so doc 2 still differs from
      // doc 1 byte-wise after normalization and is the NEAR-dup stage's
      // catch (identical token streams), while the NFC pair is exact's.
      (2L, base.replace(" dog ", " dog\r\n") + "\t "),
      (3L, "café menu lists twelve seasonal dishes and several regional wines tonight"),
      (4L, "café menu lists twelve seasonal dishes and several regional wines tonight"),
    ).toDF("doc_id", "text")
    val raw = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95)
    assert(raw.stats.toMap.apply("exact_dedup") == 4L,
      s"raw bytes must NOT collapse: ${raw.stats}")
    val norm = CorpusPipeline.clean(docs, minTokens = 5, nearDupThreshold = 0.95,
      normalize = true)
    // NFC pair (3,4) collapses at the exact stage; newline-vs-space doc 2
    // collapses at the near-dup stage, per the settled whitespace contract
    assert(norm.stats.toMap.apply("exact_dedup") == 3L, norm.stats.toString)
    assert(norm.stats.toMap.apply("near_dedup") == 2L, norm.stats.toString)
    val kept = norm.cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), kept.toString)
    // the cleaned output carries the NORMALIZED rendering: no CR/tab, no
    // edge whitespace
    val texts = norm.cleaned.select("text").as[String].collect().toSet
    assert(texts.forall(t => !t.contains("\r") && !t.contains("\t") && t == t.trim),
      texts.toString)
  }

  test("clean with the composed quality plane gates on classifier ∧ gopher ∧ LM") {
    import graft.operators.{NgramLm, TextClassifier}
    import org.apache.spark.sql.functions._
    // two clean-vocabulary sentence families (stopword-bearing, mean word
    // length in Gopher's [3,10]); ×4 repetitions clear the 50-word floor
    val s1 = "the catalog holds many datasets and every record describes " +
      "one asset of that collection with stable names"
    val s2 = "the archive keeps every dataset and that index lists one " +
      "location of each member with precise offsets"
    val good1 = (s1 + " ") * 4
    val good2 = (s2 + " ") * 4
    // reference corpus: what a CCNet-style deployment trains the LM on
    val ref = Seq((1L, good1), (2L, good2)).toDF("doc_id", "text")
    val bLm = spark.sparkContext.broadcast(NgramLm.train(ref, "text"))
    // classifier: keep iff no zzspam token — trained to separation on
    // labeled seeds, then quantized (the engine-portable scoring plane)
    val spamWords = (1 to 52).map(i => s"zzspam$i word$i").mkString(" ")
    val labeled = (Seq((1L, good1, true), (2L, good2, true)) ++
      (3L to 8L).map(i => (i, (1 to 52).map(j => s"zzspam${i * 100 + j} filler$j")
        .mkString(" "), false))).toDF("doc_id", "text", "y")
    val (w, b) = TextClassifier.train(labeled, "text", "y", dim = 256,
      iters = 60, lr = 4.0)
    val scale = 50.0 / math.max(math.max(w.map(math.abs).max, math.abs(b)), 1e-12)
    val qp = CorpusPipeline.QualityPlane(
      TextClassifier.quantize(w.map(_ * scale)),
      TextClassifier.quantize(Array(b * scale)).head, bLm)
    val docs = Seq(
      (1L, good1),                                         // survives everything
      (2L, good2),                                         // second distinct survivor
      (3L, spamWords),                                     // classifier (and LM) reject
      (4L, (1 to 55).map(i => s"zzunseen$i").mkString(" ")), // LM unk floor rejects
      (5L, "tiny text"),                                   // structural gate rejects
    ).toDF("doc_id", "text")
    val r = CorpusPipeline.clean(docs, minTokens = 5, minAlphaRatio = 0.5,
      nearDupThreshold = 0.8, qualityPlane = Some(qp))
    val st = r.stats.toMap
    assert(r.stats.map(_._1) == Seq("input", "quality", "quality_plane",
      "lang", "exact_dedup", "near_dedup"), r.stats.toString)
    assert(st("input") == 5L && st("quality") == 4L && st("quality_plane") == 2L &&
      st("near_dedup") == 2L, r.stats.toString)
    val kept = r.cleaned.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), kept.toString)
    // plane off → stats shape (and semantics) unchanged
    val off = CorpusPipeline.clean(docs, minTokens = 5, minAlphaRatio = 0.5,
      nearDupThreshold = 0.8)
    assert(off.stats.map(_._1) == Seq("input", "quality", "lang",
      "exact_dedup", "near_dedup"), off.stats.toString)
    assert(off.stats.toMap.apply("quality") == 4L)
  }

  test("clean with a trained LangIdModel gates languages by model decisions (r12)") {
    import graft.operators.TextClassifier
    import org.apache.spark.sql.functions.col
    // id-derived separable two-language sample, text-derived signal
    val mk = (l: String, words: Seq[String]) => (0 until 40).map(i =>
      (l, (0 until 8).map(j => words((i * (2 * j + 1)) % words.size)).mkString(" ")))
    val en = mk("en", Seq("the", "quick", "brown", "research", "window",
      "through", "knowledge", "weather"))
    val fr = mk("fr", Seq("le", "recherche", "fenêtre", "toujours",
      "connaissance", "température", "être", "déjà"))
    val sample = (en ++ fr).zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }.toDF("doc_id", "lang", "text")
    val model = TextClassifier.trainLangId(sample, "text", "lang",
      Seq("en", "fr"), dim = 512, n = 3, iters = 25, lr = 2.0)
    // the model must separate the planted classes
    val scored = TextClassifier.langIdScore(sample, "text", "doc_id", model)
      .join(sample.select(col("doc_id").as("id"), col("lang").as("want")), Seq("id"))
    assert(scored.filter(col("lang") =!= col("want")).count() == 0)
    // clean's lang stage with the model keeps only the allowed language
    val r = CorpusPipeline.clean(sample, minTokens = 3, minAlphaRatio = 0.2,
      allowedLangs = Seq("fr"), nearDupThreshold = 0.99, langModel = Some(model))
    assert(r.stats.toMap.apply("lang") == 40L, r.stats.toString)
    // every survivor is a French-vocabulary doc (accented chars present)
    val kept = r.cleaned.select("lang").distinct().as[String].collect().toSeq
    assert(kept == Seq("fr"), kept.toString)
  }

  test("clean takes every stage count from its one feature aggregate") {
    import graft.operators.{Dsir, NgramLm, TextClassifier}
    val s1 = "the catalog holds many datasets and every record describes " +
      "one asset of that collection with stable names"
    val s2 = "the archive keeps every dataset and that index lists one " +
      "location of each member with precise offsets"
    val good1 = (s1 + " ") * 4
    val good2 = (s2 + " ") * 4
    val ref = Seq((1L, good1), (2L, good2)).toDF("doc_id", "text")
    val bLm = spark.sparkContext.broadcast(NgramLm.train(ref, "text"))
    val labeled = (Seq((1L, good1, true), (2L, good2, true)) ++
      (3L to 8L).map(i => (i, (1 to 52).map(j => s"zzspam${i * 100 + j} filler$j")
        .mkString(" "), false))).toDF("doc_id", "text", "y")
    val (w, b) = TextClassifier.train(labeled, "text", "y", dim = 256,
      iters = 60, lr = 4.0)
    val scale = 50.0 / math.max(math.max(w.map(math.abs).max, math.abs(b)), 1e-12)
    val qp = CorpusPipeline.QualityPlane(
      TextClassifier.quantize(w.map(_ * scale)),
      TextClassifier.quantize(Array(b * scale)).head, bLm)
    val docs = Seq(
      (1L, good1),
      (2L, good2),
      (3L, (1 to 52).map(i => s"zzspam$i word$i").mkString(" ")),
      (4L, (1 to 55).map(i => s"zzunseen$i").mkString(" ")),
      (5L, "tiny text"),
      (6L, good1),
      (7L, (s2 + " ") * 2 + s1),
    ).toDF("doc_id", "text")
    val dsir = Dsir.importanceWeights(
      Dsir.bucketHistogram(ref, "text"), Dsir.bucketHistogram(docs, "text"))
    // every plane active: each stage but the last drops nothing or
    // something, and all five stage counts come out of one aggregate
    val (r, census) = JobCensus(spark) {
      CorpusPipeline.clean(docs, minTokens = 5, minAlphaRatio = 0.5,
        allowedLangs = Seq("en"), nearDupThreshold = 0.8, qualityPlane = Some(qp),
        dsirPlane = Some(CorpusPipeline.DsirPlane(dsir, minScore = -1e9)),
        compressionPlane = Some(CorpusPipeline.CompressionPlane()))
    }
    assert(r.stats == Seq("input" -> 7L, "quality" -> 6L, "quality_plane" -> 4L,
      "dsir" -> 4L, "compression" -> 4L, "lang" -> 4L, "exact_dedup" -> 3L,
      "near_dedup" -> 3L), r.stats.toString)
    // 32 jobs when each of the quality_plane, dsir, compression and lang
    // stages ran a count of its own (2 jobs each); the stage flags ride the
    // feature aggregate instead
    assert(census.jobs == 32 - 4 * 2, census.actions.mkString("; "))
  }
}
