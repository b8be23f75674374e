package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class MinimalExploderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("same-pattern columns explode together (zip), different patterns cartesian") {
    // a,b share per-row lengths (2,1); c differs (1,2) → groups {a,b}, {c}
    val df = Seq(
      (1, Seq("a1", "a2"), Seq("b1", "b2"), Seq("c1")),
      (2, Seq("a3"), Seq("b3"), Seq("c2", "c3")),
    ).toDF("id", "a", "b", "c")
    assert(MinimalExploder.explodableGroups(df) == Seq(Seq("a", "b"), Seq("c")))
    val out = MinimalExploder(df).orderBy("id", "a", "c").collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq(1, "a1", "b1", "c1"),
      Seq(1, "a2", "b2", "c1"),
      Seq(2, "a3", "b3", "c2"),
      Seq(2, "a3", "b3", "c3"),
    ))
  }

  test("no list columns → unchanged") {
    val df = Seq((1, "x")).toDF("id", "v")
    assert(MinimalExploder(df).collect().toSeq == df.collect().toSeq)
  }

  test("empty arrays produce null rows (polars/pandas explode parity)") {
    val df = Seq((1, Seq.empty[String]), (2, Seq("x"))).toDF("id", "v")
    val out = MinimalExploder(df).orderBy("id").collect()
    assert(out(0).isNullAt(1) && out(1).getString(1) == "x")
  }

  test("summary counts groups") {
    val df = Seq((1, Seq("x"), Seq("y"))).toDF("id", "a", "b")
    val s  = MinimalExploder.summary(df)
    assert(s("list_columns") == 2 && s("explodable_groups") == 1)
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again", "a"),
    (2L, "the quick brown fox jumps over the lazy dog again and again", "b"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again", "a"), // near dup of 1
    (4L, "completely different text about spark catalyst optimizer internals", "c"),
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps smallest tie-break id") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id").select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L))
  }

  test("exact groups finds duplicate clusters") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_dups") == 2L)
    assert(g(0).getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 2L))
  }

  test("minhash-lsh finds exact and near duplicates, skips unrelated") {
    // jaccard(1,3) = 7/13 ≈ 0.54; threshold below it to absorb estimator noise
    val pairs = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("identical docs have identical minhash signatures (est_jaccard = 1)") {
    val j = Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("est_jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs at hamming 0, near dups close, unrelated far") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.get((1L, 3L)).forall(_ <= 16L))
    assert(!pairs.contains((1L, 4L)) || pairs((1L, 4L)) > 10L)
  }

  test("ngram jaccard exact verify") {
    val j = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.3 && j((1L, 3L)) < 1.0)
  }

  /** Every node of an executed plan: through AQE stages, and into each
    * cached relation's own plan once, however often it is scanned. */
  private def planNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => q +: walk(q.plan)
        case s: InMemoryTableScanExec =>
          s +: (if (seen.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else Nil)
        case o => o +: o.children.flatMap(walk)
      }
    walk(plan)
  }

  /** Plan nodes evaluating an expression that `isKernel` picks. */
  private def evaluating(plan: org.apache.spark.sql.execution.SparkPlan)(
      isKernel: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
    planNodes(plan).filter(_.expressions.exists(_.exists(isKernel)))

  /** 12 unrelated 20-word documents, a variant of each of the first six
    * with its last word changed (3-gram jaccard 17/19), exact copies of the
    * first two, a document too short to shingle, and a null text. */
  private lazy val shingleCorpus = {
    val base = (0 until 12).map(b => (0 until 20).map(k => s"w${b * 20 + k}").mkString(" "))
    val texts = base ++ base.take(6).map(_.split(" ").init.mkString(" ") + " zz") ++
      base.take(2) ++ Seq("too short", null)
    spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").rdd, new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long", nullable = false).add("text", "string"))
  }

  test("row-local minhash signatures evaluate the kernel once per document") {
    val sigs = Dedup.minhashSignaturesRowLocal(shingleCorpus, "text", "doc_id", 3, 16)
    val got = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(evaluating(sigs.queryExecution.executedPlan)(
      _.isInstanceOf[graft.functions.MinHashSigWindows]).size == 1,
      sigs.queryExecution.executedPlan.toString)
    // the same rows as filtering the signature itself
    val want = shingleCorpus.select(col("doc_id"), graft.functions.SketchFunctions
        .minhash_sig_windows(Dedup.tokens(col("text")), 3, 16).as("sig"))
      .collect().filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want && got.size == 20)
  }

  test("ngram jaccard shingles each candidate-touched document once, after the semi-join") {
    val j = Dedup.ngramJaccard(shingleCorpus, "text", "doc_id", n = 3, threshold = 0.5)
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val plan = j.queryExecution.executedPlan
    val shingling = evaluating(plan)(_.isInstanceOf[graft.functions.WindowStrings])
    assert(shingling.size == 1, plan.toString)
    assert(planNodes(shingling.head).exists {
      case b: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }, shingling.head.toString)
    // the pair set is every pair at or above the threshold, exactly
    val sets = shingleCorpus.collect().collect { case r if !r.isNullAt(1) =>
      r.getLong(0) -> r.getString(1).split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty && sb.nonEmpty
      jac = (sa & sb).size.toDouble / (sa | sb).size.toDouble if jac >= 0.5
    } yield (a, b) -> jac).toMap
    assert(got == want && want.size == 10, s"$got vs $want")
  }

  test("exact dup stats: histogram buckets by cluster size, doc counts add up") {
    val corpus = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDupStats(corpus, "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 1L), (2L, 1L, 2L), (3L, 1L, 3L)), out.toString)
  }

  test("cross-corpus near-dup: only cross-side pairs, jaccard exact") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about spark catalyst optimizer internals"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (11L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (12L, "unrelated sentences mentioning parquet footers and shuffle spills"),
    ).toDF("doc_id", "text")
    val out = Dedup.crossNearDup(batch, corpus, "text", "doc_id", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((10L, 1L), (11L, 1L)), out.toString)
    assert(out((11L, 1L)) == 1.0)
    assert(out((10L, 1L)) > 0.3 && out((10L, 1L)) < 1.0)
  }

  test("exact-substring spans: canonical survives, cross-doc and internal repeats merge") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),       // canonical source for the shared run
      (2L, "x y a b c d e q r"),     // contains d1's "a b c d e" → windows at pos 2,3,4
      (3L, "c d e c d e m n"),       // internal repeat + cross-doc: pos 0 and 3 both marked
      (4L, "p q"),                   // shorter than the window: no windows at all
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(corpus, "text", "doc_id", windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d1 is the first occurrence of every shared window → never marked;
    // d2's three overlapping windows merge to [2,6]; d3's two occurrences
    // of "c d e" ([0,2] and [3,5]) are ADJACENT and merge to [0,5]
    assert(spans.toSet == Set((2L, 2L, 6L, 5L), (3L, 0L, 5L, 6L)), spans.mkString(";"))
  }

  test("exact-substring removal: spans cut out, untouched docs pass through") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q r"),
      (3L, "c d e c d e m n"),
      (4L, "p q"),
    ).toDF("doc_id", "text")
    val out = Dedup.removeSubstringSpans(corpus, "text", "doc_id", windowTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("a b c d e f g h", 8L)))
    assert(out(2L) == (("x y q r", 4L)))
    assert(out(3L) == (("m n", 2L)))
    assert(out(4L) == (("p q", 2L)))
  }

  test("decontaminate: flagged + kept partition the train set; threshold honored") {
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog", "e"))
      .toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "the quick brown fox went home", "a"),      // shares 2 eval 3-grams
      (2L, "a quick brown dog", "a"),                  // shares 0 (too short a match)
      (3L, "jumps over the lazy dog every day", "b"),  // shares 3
      (4L, "unrelated catalyst optimizer text", "c"),  // shares 0
    ).toDF("doc_id", "text", "source")
    val report = Decontaminate.contaminationReport(train, eval, "text", "doc_id", n = 3, minHits = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("hits")).toMap
    assert(report == Map(1L -> 2L, 3L -> 3L), report.toString)
    val kept = Decontaminate.decontaminate(train, eval, "text", "doc_id", n = 3, minHits = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // minHits = 1 also catches doc 1's single-hit sibling behaviors
    val loose = Decontaminate.decontaminate(train, eval, "text", "doc_id", n = 3, minHits = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(loose.subsetOf(Set(2L, 4L)))
  }

  test("incremental dedup: bloom+confirm equals plain anti-join") {
    val corpus = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "gamma text"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha text"),   // exact dup of corpus -> dropped
      (11L, "delta text"),   // new -> kept
      (12L, "beta text"),    // dup -> dropped
      (13L, null.asInstanceOf[String]), // null text -> kept (nothing to match)
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(batch, corpus, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("embedding near-dup: LSH candidates find every planted pair (vs brute force)") {
    // 25 random unit-ish base vectors; each gets a perturbed twin at
    // cosine > 0.99 — the LSH path must recover exactly the planted pairs.
    val rnd = new scala.util.Random(7)
    val base = (0 until 25).map(_ => Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, v.toSeq), (i.toLong * 2 + 1, twin.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
    val lsh = Dedup.embeddingNearDup(df, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingBlockedPairs(
        df.withColumn("blk", lit(1)), "vec_id", "embedding", "blk", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 25).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(exact == planted)
    assert(lsh == planted)
  }

  test("lsh auto params: sized to the threshold, detection floor holds, no overflow") {
    // stock layout kept where it already detects >= 98%
    Seq(0.7, 0.8, 0.9).foreach { t =>
      assert(Dedup.lshDetectProb(t, 32, 4) >= 0.98)
    }
    // low thresholds re-size instead of silently missing pairs
    Seq(0.1, 0.2, 0.3, 0.5).foreach { t =>
      val (b, r) = Dedup.lshAutoParams(t)
      assert(b > 0 && r > 0, s"t=$t gave ($b, $r)")
      assert(b.toLong * r <= 192, s"t=$t signature too long: ($b, $r)")
      assert(Dedup.lshDetectProb(t, b, r) >= 0.98, s"t=$t detection below floor with ($b, $r)")
    }
    // tiny pBand at high r used to wrap b*r negative and dodge the cap
    val (b, r) = Dedup.lshAutoParams(0.05)
    assert(b > 0 && r > 0 && b.toLong * r <= 192)
  }

  test("blocked embedding pairs never cross blocks") {
    val rnd = new scala.util.Random(11)
    val df = (0 until 20).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingBlockedPairs(df, "vec_id", "embedding", "label", threshold = -1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(out.length == 2 * (10 * 9) / 2) // all intra-block pairs, both blocks
    assert(out.forall { case (a, b) => a % 2 == b % 2 })
  }

  test("semantic dedup: greedy keep-first within kmeans clusters") {
    // two well-separated directions; docs 1/2/3 are near-dups of each
    // other along +x (with 3 near 2 but NOT near 1 — the chain case the
    // greedy predecessor rule drops anyway), docs 10/11/20 along +y.
    // kmeansIters=0 seeds cells with the first two vectors
    // (deterministic), so the assignment is hand-checkable.
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val emb = Seq(
      (1L, v(1.0, 0.00)), (2L, v(1.0, 0.28)), (3L, v(1.0, 0.50)),
      (10L, v(0.0, 1.0)), (11L, v(0.05, 1.0)), (20L, v(-0.02, 1.0)),
    ).toDF("vec_id", "embedding")
    val res = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.97, nCells = 2, kmeansIters = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    // hand-computed: cos(1,2)=0.963, cos(2,3)=0.982, cos(1,3)=0.894,
    // cos(10,11)=0.9988, cos(10,20)=0.9998, cos(11,20)=0.9976
    assert(res(1L) == ((true, None)))
    assert(res(2L) == ((true, None)))          // cos(1,2) < 0.97
    assert(res(3L) == ((false, Some(2L))))     // shadowed by 2 (earliest >= t)
    assert(res(10L) == ((true, None)))
    assert(res(11L) == ((false, Some(10L))))
    assert(res(20L) == ((false, Some(10L))))   // earliest shadow 10, not 11
    assert(res.size == 6)
  }

  test("normalizeText: NFC composition, line endings, controls, whitespace") {
    val rows = Seq(
      (1L, "cafe\u0301 time"),          // decomposed -> composed \u00e9
      (2L, "caf\u00e9 time"),           // already composed: must equal doc 1
      (3L, "a\r\nb\rc"),              // CRLF and lone CR -> LF
      (4L, "x\u0001y\u0007z"),         // controls stripped
      (5L, "a \t  b\t\tc"),           // tab/space runs -> one space
      (6L, "end  \n  start"),           // spaces hugging the newline drop
      (7L, "MiXeD Case\u0301"),         // lowercase applies AFTER composition
      (8L, "  \n padded text \n\t "),   // edge whitespace trims entirely
      (9L, "inner\nlines  keep"),        // interior newline SURVIVES (not a space)
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("n"),
        TextAnalysis.normalizeText(col("text"), lowercase = true).as("nl"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out(1L)._1 == "caf\u00e9 time")
    assert(out(1L)._1 == out(2L)._1, "composed and decomposed must normalize identically")
    assert(out(3L)._1 == "a\nb\nc")
    assert(out(4L)._1 == "xyz")
    assert(out(5L)._1 == "a b c")
    assert(out(6L)._1 == "end\nstart")
    assert(out(7L)._2 == "mixed cas\u00e9", out(7L)._2)
    assert(out(8L)._1 == "padded text", out(8L)._1)
    assert(out(9L)._1 == "inner\nlines keep", out(9L)._1)
  }

  test("paragraph dedup: first occurrence wins, clean rebuilds in order") {
    val docs = Seq(
      (1L, "alpha beta\nshared line\ngamma"),
      (2L, "shared line\n\n  \ndelta"),          // blank/whitespace lines drop
      (3L, "alpha beta\nalpha beta"),            // in-doc duplicate
      (4L, "   "),                               // no non-blank paragraphs
      (5L, "\t\ndelta\n \t "),                 // tab-only lines are blank too
    ).toDF("doc_id", "text")
    val marks = Dedup.duplicateParagraphMarks(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    // doc 1 owns everything it says first; doc 2's 'shared line' loses to
    // doc 1's; blank lines never index (delta is doc 2's para_idx 1)
    assert(marks == Map(
      (1L, 0L) -> true, (1L, 1L) -> true, (1L, 2L) -> true,
      (2L, 0L) -> false, (2L, 1L) -> true,
      (3L, 0L) -> false, (3L, 1L) -> false,
      (5L, 0L) -> false), marks.toString) // doc 5's only paragraph is doc 2's delta
    val clean = Dedup.removeDuplicateParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) == "alpha beta\nshared line\ngamma")
    assert(clean(2L) == "delta")
    assert(clean(3L) == "")   // every paragraph was someone else's first
    assert(clean(4L) == "")   // nothing to keep
    assert(clean(5L) == "")   // tab-only lines never index; delta lost to doc 2
    assert(clean.size == 5)
  }

  test("semantic dedup refuses a non-numeric id column") {
    val df = Seq(("a", Seq(1f, 0f)), ("b", Seq(0f, 1f))).toDF("doc", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(df, "doc", "embedding")
    }
    assert(e.getMessage.contains("numeric id"))
  }

  test("semantic dedup covers null-vector docs with keep=true, like the incremental twin") {
    val df = Seq(
      (1L, Some(Seq(1f, 0f))), (2L, Some(Seq(1f, 0.01f))),   // dup pair
      (3L, None),                                            // vectorless
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", threshold = 0.9,
        nCells = 1, kmeansIters = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.isNullAt(1), r.isNullAt(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.toString)   // WHOLE input covered
    assert(out(1L)._1 && !out(2L)._1)
    assert(out(3L) == ((true, true, true)), out.toString) // keep, null cell/dup_of
  }

  test("paragraph dedup refuses a non-numeric id column") {
    val df = Seq(("a", "line one\nline two")).toDF("doc", "text")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.duplicateParagraphMarks(df, "text", "doc")
    }
    assert(e1.getMessage.contains("numeric"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.removeDuplicateParagraphs(df, "text", "doc")
    }
    assert(e2.getMessage.contains("numeric"), e2.getMessage)
  }

  test("semantic dedup refuses duplicate ids (split seeding needs a total id order)") {
    val df = Seq((1L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedup(df, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("semantic dedup: skewed corpus — per-cluster pair bound holds") {
    // the k-means skew case the 100 TB bound exists for: one dense blob of
    // 600 near-identical vectors (pairwise cosine ~1.0, so NO vector rule
    // can separate them — the hash fallback must) plus 200 scattered docs
    val rnd = new scala.util.Random(7)
    val dim = 8
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val rows =
      (0 until 600).map(i =>
        (i.toLong, base.map(v => v + (rnd.nextGaussian() * 1e-4).toFloat).toSeq)) ++
      (600 until 800).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val target = 50
    val res = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.99, targetClusterSize = target, maxSplitRounds = 2)
      .localCheckpoint(true)
    assert(res.count() == 800 && res.select("id").distinct().count() == 800)
    val sizes = res.groupBy("cell").count().collect().map(_.getLong(1))
    // vector splits land at <= target exactly; the hash fallback is a
    // binomial around size/k — 2x slack covers its skew at these sizes
    assert(sizes.max <= 2L * target, s"max cell ${sizes.max}")
    // the Σ|cluster|² pair-join bound the split enforces
    assert(sizes.map(s => s * s).sum <= 4L * 800L * target,
      s"pair bound: ${sizes.map(s => s * s).sum}")
    // greedy invariants survive splitting: every dropped doc's shadow is an
    // EARLIER SAME-CELL doc above threshold (checked exactly, on the driver)
    val vec  = rows.map { case (i, v) => i -> v.toArray }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { d += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k) }
      d / math.sqrt(na * nb)
    }
    val out = res.collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
      if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val cellOf = out.map(r => r._1 -> r._2).toMap
    out.filter(!_._3).foreach { case (id, cell, _, dupOf) =>
      val d = dupOf.get
      assert(d < id && cellOf(d) == cell, s"doc $id dup_of $d")
      assert(cos(vec(id), vec(d)) >= 0.99, s"doc $id dup_of $d below threshold")
    }
    // blob docs are near-dups: exactly one keeper per blob-containing cell
    val blobCells = out.filter(_._1 < 600).groupBy(_._2)
    blobCells.foreach { case (c, docs) =>
      assert(docs.count(_._3) == 1, s"cell $c keeps ${docs.count(_._3)} blob docs")
    }
  }

  test("semantic dedup: a separable oversized cell splits by vectors, not hash") {
    // nCells=1 forces everything into one oversized cell; the split round's
    // evenly-spaced seeds (ranks 0 and 60 by id) land one in each direction
    // group, so the Voronoi re-cluster separates them without the fallback
    def jit(x: Double, y: Double, r: Double) = Seq((x + r).toFloat, (y + r).toFloat)
    val rnd = new scala.util.Random(3)
    val rows =
      (0 until 60).map(i => (i.toLong, jit(1.0, 0.0, rnd.nextGaussian() * 0.01))) ++
      (60 until 120).map(i => (i.toLong, jit(0.0, 1.0, rnd.nextGaussian() * 0.01)))
    val emb = rows.toDF("vec_id", "embedding")
    val res = Dedup.semanticDedup(emb, "vec_id", "embedding", threshold = 0.999,
        nCells = 1, kmeansIters = 0, targetClusterSize = 60, maxSplitRounds = 2)
      .collect()
    val cells = res.map(_.getString(1)).distinct.sorted
    assert(cells.length == 2 && cells.forall(c => c.contains("/") && !c.contains("#")),
      cells.mkString(","))
    // the two direction groups landed in different cells
    val byCell = res.groupBy(_.getString(1)).map { case (c, rs) => c -> rs.map(_.getLong(0)).toSet }
    assert(byCell.values.toSet == Set((0L until 60L).toSet, (60L until 120L).toSet))
  }
}

class RobustnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators._

  // null / empty / whitespace-only text must flow through every text-family
  // operator without exceptions (a 100 TB corpus always contains them)
  val dirty = Seq(
    (1L, null.asInstanceOf[String], "en"),
    (2L, "", "en"),
    (3L, "   \t  ", "de"),
    (4L, "a normal document with several words", "en"),
  ).toDF("doc_id", "text", "lang")

  test("text family is null/empty safe") {
    val q = TextAnalysis.qualityFeatures(dirty, "text").collect()
    assert(q.length == 4)
    val counts = dirty.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(counts(2L) == 0 && counts(3L) == 0 && counts(4L) == 6)
    val langs = dirty.select(TextAnalysis.langId(col("text"))).collect()
    assert(langs.length == 4)
  }

  test("dedup family drops null/empty docs instead of crashing") {
    assert(Dedup.minhashLsh(dirty, "text", "doc_id", threshold = 0.0).count() == 0)
    assert(Dedup.simhashPairs(dirty, "text", "doc_id", maxHamming = 64).count() <= 1)
    assert(Dedup.exact(dirty.filter(col("text").isNotNull), Seq("text"), "doc_id").count() == 3)
  }

  test("paragraph dedup and normalizeText are null/empty safe") {
    // null/blank docs contribute NO paragraphs (never a crash, never a
    // phantom empty-paragraph cluster); marks cover only real paragraphs
    val marks = Dedup.duplicateParagraphMarks(dirty, "text", "doc_id").collect()
    assert(marks.forall(_.getLong(0) == 4L) && marks.length == 1)
    val clean = Dedup.removeDuplicateParagraphs(dirty, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(clean.size == 4)
    assert(clean(1L) == null)                 // null text propagates
    assert(clean(2L) == "" && clean(3L) == "")
    assert(clean(4L) == "a normal document with several words")
    val norm = dirty.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(norm(1L) == null)              // null propagates
    assert(norm(2L) == "" && norm(3L) == "") // blank collapses + trims, never throws
  }

  test("chunking/packing handle null and blank text") {
    val chunks = Chunking.chunkDocuments(dirty, "doc_id", "text", 4, 1).collect()
    assert(chunks.count(_.getLong(0) == 4L) == 2) // 6 tokens, stride 3 -> 2 chunks
    val packed = Chunking.packSequences(dirty, "doc_id", "text", "lang", 10).collect()
    assert(packed.length == 4)
  }

  test("repetition signals: degenerate docs drop, repeated text scores high") {
    val rep = TextAnalysis.repetitionSignals(dirty, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rep.keySet == Set(4L)) // null/empty/whitespace and <2-token docs drop
    assert(rep(4L)._1 == 1.0 / 6 && rep(4L)._2 == 0.0)
    val loop = Seq((1L, "spam spam spam spam")).toDF("doc_id", "text")
    val l = TextAnalysis.repetitionSignals(loop, "text", "doc_id").head()
    assert(l.getDouble(1) == 1.0)       // one token dominates completely
    assert(l.getDouble(2) == 1.0 - 1.0 / 3) // 3 bigram occurrences, 1 distinct
  }

  test("pii scrub: replaces all occurrences and leaves clean text alone") {
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, call 555-123-4567 or 555 123 4567, host 10.0.0.1"),
      (2L, "nothing sensitive here 3.14 v1.2.3"),
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.piiScrub(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>, host <IP>")
    assert(out(2L) == "nothing sensitive here 3.14 v1.2.3")
    assert(out(3L) == null)
  }

  test("kerchunk reader: index without refs fails with a parse-shaped error, not rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kc")
    val f = dir.resolve("bad.json")
    java.nio.file.Files.write(f, """{"version": 1}""".getBytes("UTF-8"))
    // variant_get of a missing $.refs yields null -> zero entries, no crash
    assert(graft.sources.KerchunkIndex.read(spark, f.toString).count() == 0)
    java.nio.file.Files.deleteIfExists(f)
    java.nio.file.Files.deleteIfExists(dir)
  }
}

class ChunkingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.Chunking

  test("chunking: overlapping windows cover all tokens; short docs give one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens, chunk=4 stride=2 -> 5 chunks
      (2L, "a b"),                                    // short: one chunk
      (3L, ""),                                       // empty: one empty chunk
    ).toDF("doc_id", "text")
    val out = Chunking.chunkDocuments(docs, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.length == 5)
    assert(d1(0)._3 == "t1 t2 t3 t4")
    assert(d1(1)._3 == "t3 t4 t5 t6") // stride 2, overlap 2
    assert(d1(4)._3 == "t9 t10")      // tail chunk clamps
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b", 2)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0)))
  }

  test("packing: bins respect the budget boundary per stratum, in id order") {
    val docs = Seq(
      (1L, (1 to 6).map(_ => "w").mkString(" "), "en"),  // 6 tokens, cum 6  -> bin 0
      (2L, (1 to 5).map(_ => "w").mkString(" "), "en"),  // cum 11 -> starts at 6 -> bin 0
      (3L, (1 to 4).map(_ => "w").mkString(" "), "en"),  // starts at 11 -> bin 1
      (4L, (1 to 9).map(_ => "w").mkString(" "), "de"),  // other stratum packs independently
    ).toDF("doc_id", "text", "lang")
    val out = Chunking.packSequences(docs, "doc_id", "text", "lang", budget = 10)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 1L)
    assert(out(4L) == 0L)
  }

  test("packing sub-shards: every doc assigned, bins unique per shard, budget respected") {
    val docs = (1L to 200L).map(i => (i, Seq.fill(7)("w").mkString(" "), s"l${i % 2}"))
      .toDF("doc_id", "text", "lang")
    val out = Chunking.packSequences(docs, "doc_id", "text", "lang", budget = 50, subShards = 4)
      .select("doc_id", "lang", "bin", "n_tokens")
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 200)
    // a doc is never split, so a boundary-straddling doc may overflow its
    // bin by at most its own length - 1 (same rule as single-stream packing)
    out.groupBy(t => (t._2, t._3)).foreach { case (k, docs) =>
      assert(docs.map(_._4).sum <= 50 + 7 - 1, s"bin $k overflows: ${docs.map(_._4).sum}")
    }
    // with 4 sub-shards, each stratum uses bins from several shard classes
    val shardClasses = out.filter(_._2 == "l0").map(_._3 % 4).distinct
    assert(shardClasses.length > 1, s"sub-sharding inactive: $shardClasses")
    // subShards = 1 reproduces the legacy single-stream assignment
    val legacy = Chunking.packSequences(docs, "doc_id", "text", "lang", budget = 50)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    val explicit1 = Chunking.packSequences(docs, "doc_id", "text", "lang", budget = 50, subShards = 1)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(legacy == explicit1)
  }

  test("BPE-count packing: bins budget BPE tokens and reconstruct losslessly") {
    import graft.operators.BpeTokenizer
    val docs = Seq(
      (1L, "aa bb aa bb", "en"), (2L, "aa aa", "en"), (3L, "bb bb bb", "en"),
      (4L, "aa bb", "en"), (5L, "cc cc cc cc", "de"), (6L, "", "en"),
    ).toDF("doc_id", "text", "lang")
    val model = BpeTokenizer.learnVocab(docs, "text", nMerges = 10)
    val enc = BpeTokenizer.encode(docs, "text", "doc_id", model)
    val counted = enc.select(col("id"), col("n_tokens"))
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
    // with 10 merges, 'aa'/'bb'/'cc' each become one merged-word token →
    // n_tokens = word count per doc: 4,2,3,2,4,0
    val nt = enc.select("id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(nt == Map(1L -> 4L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 4L, 6L -> 0L), nt.toString)
    val packed = Chunking.packByTokenCount(counted, "id", "n_tokens", "lang", budget = 5)
      .select("id", "lang", "bin").as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // en cumulative starts: d1 0 → bin 0, d2 4 → bin 0, d3 6 → bin 1,
    // d4 9 → bin 1, d6 11 → bin 2; de: d5 → bin 0
    assert(packed == Map(1L -> (("en", 0L)), 2L -> (("en", 0L)), 3L -> (("en", 1L)),
      4L -> (("en", 1L)), 6L -> (("en", 2L)), 5L -> (("de", 0L))), packed.toString)
    // per-bin losslessness: concatenated ids decode to the joined norms
    val binIds = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val flat01 = (binIds(1L) ++ binIds(2L)).toArray
    val dec = Seq(Tuple1(flat01)).toDF("ids")
      .select(BpeTokenizer.decode(col("ids"), model)).head().getString(0)
    assert(dec == "aa bb aa bb aa aa", dec)
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val emb = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f, 0.1f)),
  ).toDF("vec_id", "embedding")

  test("brute-force top-k: self first, then nearest by cosine") {
    val q = emb.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(top == Seq(0L, 1L))
  }

  test("lsh top-k includes the exact self match") {
    val q = emb.filter(col("vec_id") === 0)
    val top = Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 4, nBits = 4, tables = 8)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top.contains(0L))
  }

  test("ivf top-k includes the self match and has usable recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    (0L until 5L).foreach(i => assert(ivf.contains((i, i)), s"self match missing for $i"))
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("kmeans-refined IVF: centroids converge and recall holds") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nCells = 8, iters = 2)
    val n = cents.count()
    assert(n > 0 && n <= 8)
    // refined centroids are means: dim preserved
    assert(cents.select(size(col("cent_vec"))).as[Int].head() == 64)
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 4, kmeansIters = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.4, s"k-means IVF recall too low: $recall")
  }

  test("lsh recall vs brute force on real embeddings is usable") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5, nBits = 4, tables = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf intersect ann).size.toDouble / bf.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("html extract: golden state-machine cases (r13)") {
    def ex(html: String): (String, Int, Int, Int) = {
      val r = TextAnalysis.htmlExtract(
        Seq((1L, html)).toDF("id", "html"), "html", "id").collect()(0)
      (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))
    }
    // block separation + whitespace collapse; counts are RAW content chars
    assert(ex("<p> a  b </p><p>c</p>") == (("a b\nc", 7, 0, 0)))
    // entities: named, decimal, hex; unknown stays literal; nbsp is space
    assert(ex("<p>&#65;&amp;&#x42;</p>") == (("A&B", 3, 0, 0)))
    assert(ex("<p>&nope;x</p>") == (("&nope;x", 7, 0, 0)))
    assert(ex("&nbsp;&nbsp;a") == (("a", 3, 0, 0)))
    // script/style raw content skips — embedded '<', quotes, even a fake
    // close tag of ANOTHER element never reach the text
    assert(ex("<div>a</div><script>if(x<1){b='</div>'}</script><div>c</div>")
      == (("a\nc", 2, 0, 0)))
    assert(ex("<style>p>q{x:'<'}</style>ok") == (("ok", 2, 0, 0)))
    // comments and declarations vanish; a bare '<' is text
    assert(ex("a<!-- <p>x</p> -->b") == (("ab", 2, 0, 0)))
    assert(ex("<!DOCTYPE html>a < b") == (("a < b", 5, 0, 0)))
    // links: anchor text counts on both planes; self-closing counts as a
    // link but wraps nothing; attribute values may contain '>'
    assert(ex("<p><a href='u'>x</a>y<a/>z</p>") == (("xyz", 3, 1, 2)))
    assert(ex("<a href=\"u>v\">x</a>") == (("x", 1, 1, 1)))
    // non-BMP codepoints count once (SQL length() parity)
    assert(ex("<p>😀</p>") == (("😀", 1, 0, 0)))
    // unterminated tag at EOF drops; unclosed <a> never goes negative
    assert(ex("a<p") == (("a", 1, 0, 0)))
    assert(ex("</a></a>x") == (("x", 1, 0, 0)))
    // case-insensitive close tags; uppercase block tags
    assert(ex("<SCRIPT>x<1</SCRIPT><P>a</P>") == (("a", 1, 0, 0)))
    // unterminated or over-long entities stay literal text
    assert(ex("a&amp") == (("a&amp", 5, 0, 0)))
    assert(ex("&waytoolongentity;x") == (("&waytoolongentity;x", 19, 0, 0)))
    // custom elements never masquerade as their prefix tag: <a-entity> is
    // NOT an anchor, <p-card> is NOT a block break
    assert(ex("<a-entity>long text</a-entity>") == (("long text", 9, 0, 0)))
    assert(ex("x<p-card>y</p-card>z") == (("xyz", 3, 0, 0)))
    // a longer close-tag name does not terminate raw content
    assert(ex("<script>if(a</scriptx>b)</script><p>x</p>") == (("x", 1, 0, 0)))
    // invalid numeric refs (NUL, surrogates, beyond Unicode) become U+FFFD
    assert(ex("<p>&#0;&#xD800;&#1114112;</p>") == (("���", 3, 0, 0)))
    // an unterminated <a at EOF is junk, never a phantom link
    assert(ex("click <a href=\"") == (("click", 6, 0, 0)))
    // r14: an unquoted attribute value ending in '/' is NOT a self-closing
    // marker — <a href=http://x.com/> opens a real anchor whose text counts
    // as link chars and whose </a> really closes it
    assert(ex("<a href=http://x.com/>x</a>y") == (("xy", 2, 1, 1)))
    assert(ex("<a href=/u/>x</a>") == (("x", 1, 1, 1)))
    // ...but a standalone '/' after the (ws-terminated) bare value, or
    // after a quoted value ending in '/', is still the marker
    assert(ex("<a href=/u/ />x") == (("x", 1, 0, 1)))
    assert(ex("<a href='u/'/>x") == (("x", 1, 0, 1)))
  }

  test("pii scan: golden cases — classes, pass order, octet-invalid IPs, boundaries (r14)") {
    def px(t: String): (String, Int, Int, Int) = {
      val r = TextAnalysis.piiScan(
        Seq((1L, t)).toDF("id", "text"), "text", "id").collect()(0)
      (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))
    }
    // email: plus/dot/hyphen locals, hyphenated domains; punctuation
    // outside the match stays
    assert(px("mail a.b+c@x-y.co now") == (("mail |||EMAIL_ADDRESS||| now", 1, 0, 0)))
    assert(px("see a@b.io.") == (("see |||EMAIL_ADDRESS|||.", 1, 0, 0)))
    assert(px("a@b.co c@d.org") == (("|||EMAIL_ADDRESS||| |||EMAIL_ADDRESS|||", 2, 0, 0)))
    assert(px("no at sign here") == (("no at sign here", 0, 0, 0)))
    // ipv4: octet-exact — 299 and leading-garbage digits refuse the WHOLE
    // candidate ('\b' + the octet alternation, never rounding)
    assert(px("ip 10.0.0.1!") == (("ip |||IP_ADDRESS|||!", 0, 1, 0)))
    assert(px("ip 10.299.0.1") == (("ip 10.299.0.1", 0, 0, 0)))
    assert(px("ip 999.1.1.1") == (("ip 999.1.1.1", 0, 0, 0)))
    assert(px("v1.2.3.4 x") == (("v1.2.3.4 x", 0, 0, 0))) // no \b inside 'v1'
    assert(px("at 255.255.255.255 go") == (("at |||IP_ADDRESS||| go", 0, 1, 0)))
    // phones: the three separator forms; bare 10-digit runs refuse
    assert(px("call (555) 867-5309 or 555-123-4567 or 555.123.4567")
      == (("call |||PHONE_NUMBER||| or |||PHONE_NUMBER||| or |||PHONE_NUMBER|||", 0, 0, 3)))
    assert(px("id 5551234567") == (("id 5551234567", 0, 0, 0)))
    // PASS ORDER: a real IP redacts in the IP pass, so the phone pass
    // never sees its octets...
    assert(px("at 192.168.123.255 go") == (("at |||IP_ADDRESS||| go", 0, 1, 0)))
    // ...while a dotted run that is NOT a valid IP (4-digit tail) falls
    // through to the phone pass, which matches its NANP-shaped suffix
    assert(px("at 192.168.123.4567 hm") == (("at 192.|||PHONE_NUMBER||| hm", 0, 0, 1)))
    // all three classes in one row; totals per class
    assert(px("u@v.net 8.8.8.8 555-123-4567")
      == (("|||EMAIL_ADDRESS||| |||IP_ADDRESS||| |||PHONE_NUMBER|||", 1, 1, 1)))
    // interpreted eval matches the codegen'd DataFrame path exactly
    val direct = graft.functions.PiiScan(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "u@v.net 8.8.8.8 555-123-4567"),
        org.apache.spark.sql.types.StringType))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(direct.getString(0) == "|||EMAIL_ADDRESS||| |||IP_ADDRESS||| |||PHONE_NUMBER|||")
    assert((direct.getInt(1), direct.getInt(2), direct.getInt(3)) == ((1, 1, 1)))
  }

  test("zipf surprisal: ranks by frequency, ties on token, OOV pays bitlen(K)+1") {
    val df = Seq(
      (1L, "a a a b"), // all top-vocab: 3×bits(rank 1=1) + bits(rank 2=2)
      (2L, "a b c"),   // ranks 1, 2, 4 → bits 1+2+3
      (3L, "z z q"),   // z rank 3 (count 2, after b by token order); q OOV → 4 bits
    ).toDF("doc_id", "text")
    val out = TextAnalysis.zipfSurprisal(df, "text", "doc_id", vocabK = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 0L, 1.25)))
    assert(out(2L) == ((3L, 0L, 2.0)))
    assert(out(3L) == ((3L, 1L, 8.0 / 3.0)))
  }

  test("language id on obvious sentences") {
    val df = Seq(
      (1, "the cat and the dog is in the house for the winter"),
      (2, "der Hund ist nicht mit der Katze und das ist gut"),
      (3, "le chat est dans la maison et il est pour les vacances"),
      (4, "xyzzy plugh zork"),
    ).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("g"))
      .as[(Int, String)].collect().toMap
    assert(out(1) == "en")
    assert(out(2) == "de")
    assert(out(3) == "fr")
    assert(out(4) == "und")
  }

  test("token counts") {
    val df = Seq(("  hello   world\tfoo\nbar  ")).toDF("text")
    val n = df.select(TextAnalysis.tokenCount(col("text"))).as[Int].head()
    assert(n == 4)
  }

  test("quality features arithmetic") {
    val df  = Seq(("ab cd!")).toDF("text") // 6 chars, 1 space, 4 alpha, 1 punct
    val row = TextAnalysis.qualityFeatures(df, "text").collect()(0)
    assert(row.getAs[Int]("n_tokens") == 2)
    assert(row.getAs[Int]("n_alpha") == 4)
    assert(row.getAs[Int]("n_space") == 1)
    assert(math.abs(row.getAs[Double]("alpha_ratio") - 4.0 / 6.0) < 1e-12)
    assert(row.getAs[Double]("mean_token_len") == 2.5)
  }

  test("gopher rules: line, symbol, alpha, and stop-word gates") {
    val docs = Seq(
      // 1: clean doc above all thresholds (minWords lowered to 4)
      (1L, "the cat sat with the dog and that was all"),
      // 2: bullet-dominated (3/3 lines bullets >= 9/10) → r_bullet fails
      (2L, "- the one\n- be two\n* of three"),
      // 3: ellipsis-heavy lines (2/3 >= 3/10) and symbol-heavy (### + …)
      (3L, "so the story goes on...\nand of course…\nplain line"),
      // 4: numeric tokens — alpha-word rule fails (1/5 words alphabetic)
      (4L, "11 22 33 44 the"),
      // 5: no stop words at all
      (5L, "lorem ipsum dolor sit amet consectetur"),
      // 6: EXACTLY 90% bullet lines (9/10) — Gopher's wording is "more
      // than 90%", so the boundary case keeps
      (6L, (Seq.fill(9)("- the word of it") :+ "a plain line with that and have").mkString("\n")),
      // 7: EXACTLY 30% ellipsis lines (3/10) — boundary keeps
      (7L, (Seq.fill(3)("the end of it...") ++ Seq.fill(7)("a plain line with that and have")).mkString("\n")),
      // 8: EXACTLY 10% symbol-to-word ratio (1 '#' per 10 words) — Gopher
      // removes on "greater than 0.1", so the boundary keeps
      (8L, "the quick brown fox jumps over that lazy dog x#"),
    ).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, "text", "doc_id", minWords = 4)
      .collect().map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Boolean]("gopher_keep"))
    assert(!r(2L).getAs[Boolean]("r_bullet_lines") && !r(2L).getAs[Boolean]("gopher_keep"))
    assert(r(1L).getAs[Boolean]("r_bullet_lines"))
    assert(!r(3L).getAs[Boolean]("r_ellipsis_lines"))
    // doc 3: words=12? symbols: 1 '...' + 1 '…' = 2; 2*10 >= n_words → fails
    assert(!r(3L).getAs[Boolean]("r_symbol_ratio"))
    assert(!r(4L).getAs[Boolean]("r_alpha_words"))
    assert(r(4L).getAs[Boolean]("r_stop_words") == false) // only 'the' → 1 < 2
    assert(!r(5L).getAs[Boolean]("r_stop_words"))
    assert(r(1L).getAs[Boolean]("r_stop_words"))
    assert(r(6L).getAs[Boolean]("r_bullet_lines"),
      "exactly 90% bullet lines is NOT 'more than 90%' — must keep")
    assert(r(7L).getAs[Boolean]("r_ellipsis_lines"),
      "exactly 30% ellipsis lines is NOT 'more than 30%' — must keep")
    assert(r(8L).getAs[Boolean]("r_symbol_ratio"),
      "exactly 0.1 symbol ratio is NOT 'greater than 0.1' — must keep")
  }

  test("repetition n-gram fractions: overlap counting and island merge") {
    val docs = Seq(
      // doc 1: "a b a b a b" — top bigram "a b" occurs 3 times
      // (overlapping with "b a"); total_chars = 6 + 5 = 11;
      // top_chars = 3 * 3 = 9 (occurrences counted in full).
      // dup 5-grams: "a b a b a" (pos 0) and "b a b a b" (pos 1) each
      // occur once → no dup coverage.
      (1L, "a b a b a b"),
      // doc 2: the 5-gram "x y z w v" repeats; both occurrences covered,
      // islands merged over tokens 0..4 and 5..9 (adjacent → ONE island
      // 0..9 = the whole 19-char doc).
      (2L, "x y z w v x y z w v"),
      // doc 3: no repetition at all
      (3L, "one two three four five six"),
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionNgramFractions(docs, "text", "doc_id")
      .collect().map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Long]("total_chars") == 11L)
    assert(r(1L).getAs[Long]("top_ngram_count") == 3L)
    assert(r(1L).getAs[Double]("top_ngram_char_frac") == 9.0 / 11.0)
    assert(r(1L).getAs[Double]("dup_ngram_char_frac") == 0.0)
    assert(r(2L).getAs[Long]("total_chars") == 19L)
    assert(r(2L).getAs[Double]("dup_ngram_char_frac") == 1.0) // whole doc covered
    assert(r(3L).getAs[Double]("top_ngram_char_frac") == 0.0) // top count 1 → 0
    assert(r(3L).getAs[Double]("dup_ngram_char_frac") == 0.0)
  }

  test("duplicate line/paragraph fractions count every duplicated occurrence") {
    val docs = Seq(
      // lines (trimmed, nonempty): [same, other, same, same] → 3/4 dup;
      // chars: same=4 ×3 + other=5 → dup 12/17. paragraphs: "same\nother"
      // normalizes to "same other", then two "same" paras → ["same other",
      // "same", "same"] → 2/3 dup; chars: 10 + 4 + 4 → dup 8/18
      (1L, "same\nother\n\n same \n\nsame"),
      (2L, "all unique lines\nno repeats here"),
    ).toDF("doc_id", "text")
    val r = TextAnalysis.duplicateFragmentFractions(docs, "text", "doc_id")
      .collect().map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Long]("n_lines") == 4L)
    assert(r(1L).getAs[Double]("dup_line_frac") == 3.0 / 4.0)
    assert(r(1L).getAs[Double]("dup_line_char_frac") == 12.0 / 17.0)
    assert(r(1L).getAs[Long]("n_paras") == 3L)
    assert(r(1L).getAs[Double]("dup_para_frac") == 2.0 / 3.0)
    assert(r(1L).getAs[Double]("dup_para_char_frac") == 8.0 / 18.0)
    assert(r(2L).getAs[Double]("dup_line_frac") == 0.0)
    assert(r(2L).getAs[Double]("dup_para_frac") == 0.0)
  }

  test("c4 clean: line punctuation/word-count/javascript rules, page gates") {
    val docs = Seq(
      // kept: 3 proper sentences; dropped lines: short ("ok."), no
      // terminal punct, javascript boilerplate
      (1L, "this is a good sentence.\nok.\nno terminal punct here\n" +
        "please enable JavaScript today.\nanother full sentence!\nis this kept?\n"),
      // page gates: brace and lorem ipsum pages drop even with sentences
      (2L, "one fine sentence here.\ntwo fine sentences here.\nthree fine ones.\nx = { 1 }"),
      (3L, "one fine sentence here.\ntwo fine sentences here.\nthree fine ones.\nLorem Ipsum dolor."),
      // too few sentences after filtering
      (4L, "just one kept sentence.\nnothing else survives"),
    ).toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(docs, "text", "doc_id")
      .collect().map(row => row.getLong(0) -> row).toMap
    assert(r(1L).getAs[Boolean]("keep"))
    assert(r(1L).getAs[Long]("n_lines_kept") == 3L)
    assert(r(1L).getAs[String]("clean_text") ==
      "this is a good sentence.\nanother full sentence!\nis this kept?")
    assert(r(2L).getAs[Boolean]("has_brace") && !r(2L).getAs[Boolean]("keep"))
    assert(r(3L).getAs[Boolean]("has_lorem") && !r(3L).getAs[Boolean]("keep"))
    assert(!r(4L).getAs[Boolean]("keep") && r(4L).getAs[Long]("n_sentences") == 1L)
  }

  test("fingerprints are stable under whitespace normalization") {
    val df = Seq(("Hello  World"), ("hello world")).toDF("text")
    val fps = df.select(TextAnalysis.fingerprintMd5(col("text"))).as[String].collect()
    assert(fps(0) == fps(1))
    val rh = Seq(("a b c"), ("a  b\tc")).toDF("text")
      .select(TextAnalysis.rollingHash(col("text"))).as[Long].collect()
    assert(rh(0) == rh(1))
  }

  test("compression signals: repetition collapses, entropy does not, edges are null-safe (r14)") {
    // high-entropy text from a hash chain (no java.util.Random — portable)
    val noisy = (0 until 400).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"seed$i".getBytes("UTF-8"))
        .map(b => (('a' + (b & 15)).toChar)).mkString).mkString
    val rep = "the same line over and over again\n" * 300
    val df = Seq((1L, rep), (2L, noisy), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.compressionSignals(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    val repRatio = rows(0).getDouble(3)
    val noisyRatio = rows(1).getDouble(3)
    assert(repRatio < 0.05, s"repetitive ratio $repRatio")
    // 4-bit alphabet entropy bounds the ratio near 0.5; junk stays well
    // above boilerplate and the envelope holds
    assert(noisyRatio > 0.4 && noisyRatio < 1.0, s"noisy ratio $noisyRatio")
    assert(rows(2).getInt(1) == 0 && rows(2).getInt(2) == 8 && rows(2).isNullAt(3),
      "empty text: 0 raw bytes, 8-byte empty zlib stream, null ratio")
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2) && rows(3).isNullAt(3))
    // multi-byte UTF-8: raw_bytes is BYTES (octet_length), not chars
    val uni = TextAnalysis.compressionSignals(
      Seq((1L, "hélloé")).toDF("doc_id", "text"), "text", "doc_id").collect()(0)
    assert(uni.getInt(1) == 8)
    // interpreted eval equals the codegen'd path
    val lit1 = graft.functions.DeflateSize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(rep)), 6)
    assert(lit1.eval(null) == rows(0).getInt(2))
  }
}

class TextClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.TextClassifier

  test("linear scoring: hand-computed logit over known feature ids") {
    // dim 8 → feature id = md5-hex4 mod 8; weights picked so the expected
    // numerator is computable by hand from the ids below
    def fid(g: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
      Integer.parseInt(h, 16) % 8
    }
    val w = Array.tabulate(8)(i => (i + 1) * 10) // 10..80, all positive
    val df = Seq((1L, "alpha beta"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextClassifier.scoreLinear(df, "text", "doc_id", w)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // grams of doc 1: "alpha", "beta", "alpha beta"
    val expectNum = Seq("alpha", "beta", "alpha beta").map(g => w(fid(g))).sum
    assert(out(1L) == ((3L, expectNum / 128.0, true)), out(1L).toString)
    assert(out(2L) == ((0L, 0.0, false)))
    assert(out(3L) == ((0L, 0.0, false)))
  }

  test("table-form model matches the array form; out-of-range ids refuse") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val w = Array.tabulate(64)(i => (i * 37) % 201 - 100)
    val table = w.zipWithIndex.map { case (k, i) => (i.toLong, k.toLong) }
      .toSeq.toDF("feature_id", "weight_num")
    val a = TextClassifier.scoreLinear(docs, "text", "doc_id", w)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val b = TextClassifier.scoreLinearTable(docs, "text", "doc_id", table, 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(a == b && a.nonEmpty)
    val bad = Seq((99L, 1L)).toDF("feature_id", "weight_num")
    val ex = intercept[IllegalArgumentException] {
      TextClassifier.scoreLinearTable(docs, "text", "doc_id", bad, 64)
    }
    assert(ex.getMessage.contains("outside"), ex.getMessage)
  }

  test("quantize clamps to the overflow-safe dyadic grid") {
    val q = TextClassifier.quantize(Array(0.5, -0.25, 1000.0, -1000.0, 0.0))
    assert(q.toSeq == Seq(64, -32, 16256, -16256, 0))
  }

  test("training finds a planted separable signal; quantized model keeps it") {
    // positives all contain 'needle'; GD must push its feature weight up
    // and the common-word weights down enough that the quantized
    // sum-over-grams sign reproduces every label
    val docs = (0L until 40L).map { i =>
      val base = s"common filler words w${i % 5} w${(i * 3) % 7}"
      (i, if (i % 2 == 0) s"$base needle" else base, i % 2 == 0)
    }.toDF("doc_id", "text", "y")
    val dim = 256
    val (w, b) = TextClassifier.train(docs, "text", "y", dim, iters = 60, lr = 1.0)
    assert(w.length == dim)
    val maxAbs = math.max(math.max(w.map(math.abs).max, math.abs(b)), 1e-12)
    val q  = TextClassifier.quantize(w.map(_ * 50.0 / maxAbs))
    val qb = TextClassifier.quantize(Array(b * 50.0 / maxAbs)).head
    val acc = TextClassifier.scoreLinear(docs, "text", "doc_id", q, qb)
      .join(docs.select(col("doc_id").as("id"), col("y")), Seq("id"))
      .filter(col("label") === col("y")).count()
    assert(acc == 40L, s"quantized accuracy $acc/40")
  }

  test("plan shape: one scan, no joins, no shuffle for the scoring pass") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val w = Array.fill(16)(1)
    val p = TextClassifier.scoreLinear(docs, "text", "doc_id", w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), p.take(2000))
  }

  test("table-form model refuses duplicates, nulls and off-grid weights") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val dup = Seq((3L, 5L), (3L, 7L)).toDF("feature_id", "weight_num")
    assert(intercept[IllegalArgumentException] {
      TextClassifier.scoreLinearTable(docs, "text", "doc_id", dup, 64)
    }.getMessage.contains("duplicate"))
    val off = Seq((1L, 20000L)).toDF("feature_id", "weight_num")
    assert(intercept[IllegalArgumentException] {
      TextClassifier.scoreLinearTable(docs, "text", "doc_id", off, 64)
    }.getMessage.contains("grid"))
    val nul = Seq((Some(1L), None: Option[Long])).toDF("feature_id", "weight_num")
    assert(intercept[IllegalArgumentException] {
      TextClassifier.scoreLinearTable(docs, "text", "doc_id", nul, 64)
    }.getMessage.contains("null"))
  }

  test("zero-feature docs train the intercept (junk-heavy labeled set)") {
    // 10 featured positives vs 30 empty negatives: the intercept must see
    // the empty docs' labels and go negative enough to score them false
    val docs = ((0L until 10L).map(i => (i, s"signal w${i % 3}", true)) ++
      (10L until 40L).map(i => (i, "", false))).toDF("doc_id", "text", "y")
    val (w, b) = TextClassifier.train(docs, "text", "y", 64, iters = 60, lr = 1.0)
    assert(b < 0.0, s"bias $b must be negative with 30/40 empty negatives")
    val maxAbs = math.max(math.max(w.map(math.abs).max, math.abs(b)), 1e-12)
    val q = TextClassifier.quantize(w.map(_ * 50.0 / maxAbs))
    val qb = TextClassifier.quantize(Array(b * 50.0 / maxAbs)).head
    val acc = TextClassifier.scoreLinear(docs, "text", "doc_id", q, qb)
      .join(docs.select(col("doc_id").as("id"), col("y")), Seq("id"))
      .filter(col("label") === col("y")).count()
    assert(acc == 40L, s"accuracy $acc/40")
  }

  test("charGrams: normalization, window walk, short/empty texts (r12)") {
    val df = Seq((1L, "  AbC  dEf "), (2L, "hi"), (3L, ""), (4L, null: String))
      .toDF("id", "t")
    val got = df.select(col("id"), TextClassifier.charGrams(col("t"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    // normalized "abc def" → 5 trigrams incl. the space-crossing ones
    assert(got(1L) == Seq("abc", "bc ", "c d", " de", "def"), got(1L).toString)
    assert(got(2L) == Seq("hi"))   // shorter than n: itself, still evidence
    assert(got(3L) == Seq())       // empty: no grams
    assert(got(4L) == Seq())       // null: coalesced to empty
  }

  test("multi-class kernel: logits bit-identical to K single-model scores (r12)") {
    import org.apache.spark.sql.GraftColumnBridge
    val docs = Seq((1L, "die straße über"), (2L, "the quick brown"), (3L, ""))
      .toDF("doc_id", "text")
    val dim = 128
    // three deterministic weight tables (formula-derived, not trained)
    val tables = (0 until 3).map(k =>
      Array.tabulate(dim)(f => ((f * (k + 3) + k) % 17) - 8)).toArray
    val biases = Array(5, -3, 0)
    val grams = TextClassifier.charGrams(col("text"), 3)
    val multi = docs.select(col("doc_id"), GraftColumnBridge.column(
        graft.functions.HashedLinearScoreMulti(
          GraftColumnBridge.expression(grams), tables, biases)).as("l"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    (0 until 3).foreach { k =>
      val single = docs.select(col("doc_id"), GraftColumnBridge.column(
          graft.functions.HashedLinearScore(
            GraftColumnBridge.expression(grams), tables(k), biases(k),
            addBigrams = false)).getField("logit").as("l"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      docs.collect().map(_.getLong(0)).foreach { id =>
        assert(multi(id)(k) == single(id), s"doc $id class $k") // bit-exact
      }
    }
    // empty doc scores exactly the intercept priors
    assert(multi(3L) == Seq(5.0 / 128, -3.0 / 128, 0.0))
  }

  test("langIdStruct: argmax is deterministic, first language wins exact ties (r12)") {
    val zero = Array.fill(32)(0)
    val m = TextClassifier.LangIdModel(Seq("aa", "bb"), 32, 3,
      Seq(zero, zero), Seq(7, 7)) // identical models → exact tie everywhere
    val got = Seq((1L, "whatever text")).toDF("doc_id", "text")
      .select(TextClassifier.langIdStruct(col("text"), m).getField("lang"))
      .head().getString(0)
    assert(got == "aa")
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("media meta struct carries byte length + checksum") {
    val df = Seq((1L, "hello")).toDF("id", "payload")
      .withColumn("payload", encode(col("payload"), "UTF-8"))
    val row = Multimodal.withMediaMeta(df, "payload", lit("text/plain")).select("media_meta").collect()(0)
    val m   = row.getStruct(0)
    assert(m.getAs[String]("mime") == "text/plain")
    assert(m.getAs[Long]("n_bytes") == 5L)
    assert(m.getAs[String]("checksum").length == 32)
  }

  test("batched decode: real ImageIO pixel statistics, hand-computed (r13)") {
    // 2×2 BMP (lossless) with known pixels: hand-compute all 8 features
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val px = Seq((0, 0, 0xff0000), (1, 0, 0x00ff00), (0, 1, 0x0000ff), (1, 1, 0x102030))
    px.foreach { case (x, y, rgb) => img.setRGB(x, y, rgb | 0xff000000) }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bos))
    val df = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes("UTF-8")))
      .toDF("id", "payload")
    val out = Multimodal.decodeFeaturesBatched(df, "id", "payload").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    val f = out(1L)
    val rs = Seq(255, 0, 0, 0x10); val gs = Seq(0, 255, 0, 0x20); val bs = Seq(0, 0, 255, 0x30)
    val ls = (0 until 4).map(i => 299L * rs(i) + 587L * gs(i) + 114L * bs(i))
    assert(f == Seq(2.0, 2.0,
      rs.sum.toDouble / 4.0, gs.sum.toDouble / 4.0, bs.sum.toDouble / 4.0,
      ls.sum.toDouble / 4.0, (ls.max - ls.min).toDouble,
      ls.count(l => l * 4 > ls.sum).toDouble / 4.0), f.toString)
    // undecodable payload → null features (lenient mode)…
    assert(out(2L) == null)
    // …and a loud per-row refusal in strict mode
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeFeaturesBatched(df, "id", "payload", strict = true).collect()
    }
    assert(e.getMessage.contains("undecodable") ||
      Option(e.getCause).exists(_.getMessage.contains("undecodable")), e.getMessage)
  }

  test("average hash: identical payloads equal, perturbed close, string matches long") {
    val base = ("x" * 30 + "ABCDEFGH" * 10).getBytes("UTF-8")
    val tweaked = base.clone(); tweaked(40) = 'Z'.toByte
    val df = Seq((1L, base), (2L, base.clone()), (3L, tweaked))
      .toDF("id", "payload")
    val out = Multimodal.averageHash(df, "payload", "id").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == out(2L))
    // the bit string and the packed long encode the same bits (MSB first)
    out.values.foreach { case (bits, packed) =>
      assert(bits.length == 64)
      val repacked = bits.foldLeft(0L)((a, c) => a * 2 + (if (c == '1') 1L else 0L))
      assert(repacked == packed, s"$bits != $packed")
    }
    // a one-byte perturbation flips few bits — hamming-band near-dup ready
    val d = java.lang.Long.bitCount(out(1L)._2 ^ out(3L)._2)
    assert(d <= 8, s"hamming $d")
    // null hash for an empty payload, not a crash
    val empty = Multimodal.averageHash(
      Seq((9L, Array.emptyByteArray)).toDF("id", "payload"), "payload", "id").head()
    assert(empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("frame sampling emits one row per interval") {
    val df  = Seq((1L, 1200L), (2L, 499L)).toDF("id", "duration_ms")
    val out = Multimodal.sampleFrames(df, "id", "duration_ms", everyMs = 500L)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(out(1L) == 3L) // offsets 0, 500, 1000
    assert(out(2L) == 1L) // offset 0
  }

  test("image dims: hand-built golden headers for all four containers") {
    // byte-level goldens written from the PUBLIC specs, independent of any
    // encoder — if the parser and these disagree, the parser is wrong
    def png(w: Int, h: Int, colorType: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(33)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      bb.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
        .put(8.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      bb.putInt(0) // CRC not checked by a header parse
      bb.array()
    }
    def jpeg(w: Int, h: Int, nc: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(2 + 18 + 10 + 3 * nc + 2)
      bb.put(0xff.toByte).put(0xd8.toByte)                   // SOI
      bb.put(0xff.toByte).put(0xe0.toByte).putShort(16.toShort) // APP0 JFIF
        .put("JFIF".getBytes).put(0.toByte)
        .put(1.toByte).put(1.toByte).put(0.toByte)
        .putShort(1.toShort).putShort(1.toShort).put(0.toByte).put(0.toByte)
      bb.put(0xff.toByte).put(0xc0.toByte)                   // SOF0
        .putShort((8 + 3 * nc).toShort).put(8.toByte)
        .putShort(h.toShort).putShort(w.toShort).put(nc.toByte)
      (1 to nc).foreach(i => bb.put(i.toByte).put(0x11.toByte).put(0.toByte))
      bb.put(0xff.toByte).put(0xd9.toByte)                   // EOI
      bb.array()
    }
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes ++ Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte, 0.toByte, 0.toByte, 0.toByte)
    def bmp(w: Int, h: Int, bpp: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(h).putShort(1.toShort).putShort(bpp.toShort)
      bb.array()
    }
    val df = Seq(
      (1L, png(640, 480, 2)), (2L, png(31, 17, 6)), (3L, png(9, 9, 0)),
      (4L, jpeg(800, 600, 3)), (5L, jpeg(12, 34, 1)),
      (6L, gif(320, 200)),
      (7L, bmp(100, 50, 24)), (8L, bmp(64, 32, 32)),
      (9L, "not an image".getBytes), (10L, png(640, 480, 2).take(20)),
      // 'BM' text prefix must NOT sniff as BMP (reserved words 6-9 are
      // ASCII, not the spec's mandatory zeros) — garbage dims would be
      // worse than a refusal
      (11L, "BMW technical manual for series three owners, 1984 edition".getBytes),
    ).toDF("id", "payload")
    val out = Multimodal.imageMeta(df, "payload", "id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))).toMap
    assert(out(1L).contains(("png", 640, 480, 3)))
    assert(out(2L).contains(("png", 31, 17, 4)))
    assert(out(3L).contains(("png", 9, 9, 1)))
    assert(out(4L).contains(("jpeg", 800, 600, 3)))
    assert(out(5L).contains(("jpeg", 12, 34, 1)))
    assert(out(6L).contains(("gif", 320, 200, 3)))
    assert(out(7L).contains(("bmp", 100, 50, 3)))
    assert(out(8L).contains(("bmp", 64, 32, 4)))
    assert(out(9L).isEmpty && out(10L).isEmpty && out(11L).isEmpty)
  }

  test("image dims: ImageIO round-trip matches the fixture arithmetic") {
    // the gate's exact shape at unit scale: encode REAL containers, parse
    // the bytes back, compare against the id-derived expectation
    import graft.harness.ImageFixture
    val ids = (0L until 16L) ++ Seq(101L, 202L, 303L, 404L)
    val df = ids.map(id => (id, ImageFixture.encode(id))).toDF("id", "payload")
    val out = Multimodal.imageMeta(df, "payload", "id", strict = true).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    ids.foreach { id =>
      assert(out(id) == ((ImageFixture.formatName(id), ImageFixture.width(id),
        ImageFixture.height(id), ImageFixture.channels(id))), s"id=$id got ${out(id)}")
    }
  }

  test("image meta: strict mode refuses non-image payloads loudly") {
    val df = Seq((1L, "plain text bytes".getBytes)).toDF("id", "payload")
    val ex = intercept[Exception] {
      Multimodal.imageMeta(df, "payload", "id", strict = true).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("unrecognized"),
      ex.getMessage)
  }

  test("pixel aHash: identical and perturbed images pair up; noise does not") {
    import java.awt.image.BufferedImage
    // deterministic 64x48 gradient image + a perturbed twin (one corner
    // block blacked out) + an unrelated inverted-gradient image
    def gradient(w: Int, h: Int, invert: Boolean, blackCorner: Boolean): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v0 = ((x * 255 / (w - 1)) + (y * 255 / (h - 1))) / 2
        val v = if (invert) 255 - v0 else v0
        val vv = if (blackCorner && x < 8 && y < 6) 0 else v
        img.setRGB(x, y, (vv << 16) | (vv << 8) | vv)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val base   = gradient(64, 48, invert = false, blackCorner = false)
    val close  = gradient(64, 48, invert = false, blackCorner = true)
    val far    = gradient(64, 48, invert = true, blackCorner = false)
    val df = Seq((1L, base), (2L, base.clone()), (3L, close), (4L, far))
      .toDF("id", "payload")
    val hashed = Multimodal.pixelAverageHash(df, "payload", "id", strict = true)
    val rows = hashed.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    def hamming(a: String, b: String): Int = a.zip(b).count { case (x, y) => x != y }
    // identical bytes → identical fingerprint
    assert(rows(1L) == rows(2L))
    // perturbed twin is NEAR (few corner/threshold bits), inversion is FAR
    val dClose = hamming(rows(1L)._1, rows(3L)._1)
    val dFar   = hamming(rows(1L)._1, rows(4L)._1)
    assert(dClose <= 7, s"perturbed hamming $dClose")
    assert(dFar > 20, s"inverted hamming $dFar")
    // the hamming-banded pair join finds exactly the near pairs (8 blocks
    // of 8 bits → pigeonhole guarantees detection up to hamming 7)
    val pairs = graft.operators.Dedup.simhashPairsFromFingerprints(
        hashed.select(col("id"), col("phash").as("fp")), maxHamming = 7, blocks = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), pairs.toString)
  }

  test("pixel aHash: undecodable and sub-8x8 payloads refuse under strict") {
    // GIF and JPEG fixture payloads DECODE (reader-implementation pixels,
    // covered here by non-null hashes); junk and tiny images do not
    val okDf = Seq(
      (1L, graft.harness.ImageFixture.encode(2L)),  // gif
      (2L, graft.harness.ImageFixture.encode(5L))). // jpeg gray
      toDF("id", "payload")
    val ok = Multimodal.pixelAverageHash(okDf, "payload", "id", strict = true).collect()
    assert(ok.length == 2 && ok.forall(r => r.getString(1).length == 64))
    val tiny = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val badDf = Seq((1L, "not an image".getBytes), (2L, tiny)).toDF("id", "payload")
    // lenient: nulls; strict: loud per-row refusal
    val lenient = Multimodal.pixelAverageHash(badDf, "payload", "id").collect()
    assert(lenient.forall(_.isNullAt(1)))
    val ex = intercept[Exception] {
      Multimodal.pixelAverageHash(badDf, "payload", "id", strict = true).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("undecodable"), ex.getMessage)
  }

  test("audio meta: golden WAV/FLAC headers parse to spec-exact facts") {
    // hand-written WAV per the RIFF spec: 8000 Hz mono 16-bit, 4 frames
    val wav = {
      val o = new java.io.ByteArrayOutputStream()
      def le16(v: Int) = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def le32(v: Int) = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
      o.write("RIFF".getBytes); le32(36 + 8)
      o.write("WAVE".getBytes)
      o.write("fmt ".getBytes); le32(16)
      le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
      o.write("data".getBytes); le32(8)
      o.write(new Array[Byte](8))
      o.toByteArray
    }
    // the fixture's independent FLAC encoder: id 5 -> 12000 Hz mono, 55 frames
    val flac = graft.harness.AudioFixture.encode(5L)
    val df = Seq((1L, wav), (2L, flac), (3L, "not audio".getBytes))
      .toDF("id", "payload")
    val out = Multimodal.audioMeta(df, "payload", "id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "wav" && out(1L).getInt(2) == 8000 &&
      out(1L).getInt(3) == 1 && out(1L).getInt(4) == 16 &&
      out(1L).getLong(5) == 4L && out(1L).getLong(6) == 0L)
    assert(out(2L).getString(1) == "flac" &&
      out(2L).getInt(2) == graft.harness.AudioFixture.sampleRate(5L) &&
      out(2L).getInt(3) == graft.harness.AudioFixture.channels(5L) &&
      out(2L).getLong(5) == graft.harness.AudioFixture.nFrames(5L))
    assert(out(3L).isNullAt(1))
    val ex = intercept[Exception] {
      Multimodal.audioMeta(df, "payload", "id", strict = true).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("unrecognized"), ex.getMessage)
    // truncated FLAC (header cut mid-STREAMINFO) refuses via null
    val trunc = Seq((1L, flac.take(20))).toDF("id", "payload")
    assert(Multimodal.audioMeta(trunc, "payload", "id").head().isNullAt(1))
  }

  test("audio meta: corrupt and truncated WAV payloads refuse, never hang") {
    // chunk size 0xFFFFFFF8: as signed-int arithmetic this advanced the
    // walk by ZERO (an infinite executor loop); the Long walk refuses
    val evil = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("RIFF".getBytes); o.write(Array[Byte](36, 0, 0, 0))
      o.write("WAVE".getBytes)
      o.write("junk".getBytes); o.write(Array[Byte](-8, -1, -1, -1))
      o.write(new Array[Byte](16))
      o.toByteArray
    }
    // data chunk declares 96000 bytes but the payload was cut after the
    // header: declared frames must NOT be reported as fact
    val truncated = {
      val o = new java.io.ByteArrayOutputStream()
      def le16(v: Int) = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
      def le32(v: Int) = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
      o.write("RIFF".getBytes); le32(36 + 96000)
      o.write("WAVE".getBytes)
      o.write("fmt ".getBytes); le32(16)
      le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
      o.write("data".getBytes); le32(96000)
      o.toByteArray
    }
    val out = Multimodal.audioMeta(
        Seq((1L, evil), (2L, truncated)).toDF("id", "payload"), "payload", "id")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L), out.toString)
  }

  test("media meta uses REAL parsed duration for audio payloads") {
    val wav = graft.harness.AudioFixture.encode(4L) // JDK encoder
    val df = Seq((1L, wav), (2L, "text payload".getBytes)).toDF("id", "payload")
    val out = Multimodal.withMediaMeta(df, "payload", lit("audio/wav"))
      .select("id", "media_meta").collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(out(1L).getAs[Long]("duration_ms") ==
      graft.harness.AudioFixture.durationMs(4L))
    // non-audio payload keeps the deterministic stub
    assert(out(2L).getAs[Long]("duration_ms") >= 0L)
  }

  test("video meta: golden hand-built BMFF parses to spec-exact facts") {
    // minimal ISO BMFF written byte-by-byte in the test, independent of
    // both VideoFixture and the parser: ftyp(mp41) + moov(mvhd v0
    // ts=1000 dur=2500, one vide trak 320x180)
    val o = new java.io.ByteArrayOutputStream()
    def be32(v: Int) = { o.write(v >>> 24); o.write((v >>> 16) & 0xff)
      o.write((v >>> 8) & 0xff); o.write(v & 0xff) }
    def tag(s: String) = o.write(s.getBytes("US-ASCII"))
    be32(16); tag("ftyp"); tag("mp41"); be32(0)
    val hdlrSz = 8 + 4 + 4 + 4 + 12 + 1          // 33
    val mdiaSz = 8 + hdlrSz                      // 41
    val tkhdSz = 8 + 84                          // 92
    val trakSz = 8 + tkhdSz + mdiaSz             // 141
    val mvhdSz = 8 + 100                         // 108
    be32(8 + mvhdSz + trakSz); tag("moov")
    be32(mvhdSz); tag("mvhd"); be32(0)           // version 0, flags 0
    be32(0); be32(0); be32(1000); be32(2500)     // created, modified, ts, dur
    for (_ <- 0 until 20) be32(0)                // rate..next_track_ID
    be32(trakSz); tag("trak")
    be32(tkhdSz); tag("tkhd"); be32(0)
    be32(0); be32(0); be32(1); be32(0); be32(2500) // times, id, rsvd, dur
    for (_ <- 0 until 13) be32(0)                // rsvd, layer.., matrix
    be32(320 << 16); be32(180 << 16)             // 16.16 width/height
    be32(mdiaSz); tag("mdia")
    be32(hdlrSz); tag("hdlr"); be32(0)
    be32(0); tag("vide"); be32(0); be32(0); be32(0); o.write(0)
    val golden = o.toByteArray
    val out = Multimodal.videoMeta(Seq((1L, golden)).toDF("id", "payload"),
      "payload", "id").head()
    assert(out.getString(1) == "mp41" && out.getInt(2) == 1000 &&
      out.getLong(3) == 2500L && out.getInt(4) == 1 && out.getInt(5) == 1 &&
      out.getInt(6) == 0 && out.getInt(7) == 320 && out.getInt(8) == 180)
  }

  test("video meta: fixture round-trips every mod class, v0 and v1 boxes") {
    import graft.harness.VideoFixture
    val ids = (0L until 15L)
    val df = ids.map(id => (id, VideoFixture.encode(id))).toDF("id", "payload")
    val out = Multimodal.videoMeta(df, "payload", "id", strict = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val r = out(id)
      assert(r.getString(1) == VideoFixture.brand(id), s"brand id=$id")
      assert(r.getInt(2) == VideoFixture.timescale(id), s"ts id=$id")
      assert(r.getLong(3) == VideoFixture.durationMs(id), s"dur id=$id")
      assert(r.getInt(4) == (if (VideoFixture.hasAudio(id)) 2 else 1), s"tracks id=$id")
      assert(r.getInt(5) == 1 && r.getInt(6) == (if (VideoFixture.hasAudio(id)) 1 else 0))
      assert(r.getInt(7) == VideoFixture.width(id), s"w id=$id")
      assert(r.getInt(8) == VideoFixture.height(id), s"h id=$id")
    }
    // byte-level pin of the fixture prefix (encoder vs SPEC, not vs parser):
    // u32 size 24, 'ftyp', brand, minor 0x200
    val b = VideoFixture.encode(2L)
    assert(b.slice(0, 4).toSeq == Seq[Byte](0, 0, 0, 24))
    assert(new String(b.slice(4, 12), "US-ASCII") == "ftypisom")
    assert(b.slice(12, 16).toSeq == Seq[Byte](0, 0, 2, 0))
    assert(new String(graft.harness.VideoFixture.encode(3L).slice(4, 12),
      "US-ASCII") == "ftypmp42")
  }

  test("video meta: audio-only BMFF reports null dims, zero video tracks") {
    // surgically rebadge the vide handler as soun: id=2 has exactly one
    // track, so the result is a pure audio container
    val b = graft.harness.VideoFixture.encode(2L)
    val i = b.indexOfSlice("vide".getBytes("US-ASCII"))
    assert(i > 0)
    "soun".getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) => b(i + j) = c }
    val r = Multimodal.videoMeta(Seq((1L, b)).toDF("id", "payload"),
      "payload", "id").head()
    assert(r.getInt(4) == 1 && r.getInt(5) == 0 && r.getInt(6) == 1)
    assert(r.isNullAt(7) && r.isNullAt(8))
  }

  test("video meta: largesize and to-end-of-file box forms parse") {
    val base = graft.harness.VideoFixture.encode(7L)
    // rewrite the trailing mdat (24 bytes: 8 header + 16 payload) as a
    // largesize box: u32 1, 'mdat', u64 32, same payload
    val head = base.dropRight(24)
    val o = new java.io.ByteArrayOutputStream(); o.write(head)
    o.write(Array[Byte](0, 0, 0, 1)); o.write("mdat".getBytes("US-ASCII"))
    o.write(Array[Byte](0, 0, 0, 0, 0, 0, 0, 32)); o.write(new Array[Byte](16))
    val large = o.toByteArray
    // and as a size-0 (extends to end) box
    val z = new java.io.ByteArrayOutputStream(); z.write(head)
    z.write(Array[Byte](0, 0, 0, 0)); z.write("mdat".getBytes("US-ASCII"))
    z.write(new Array[Byte](100))
    val toEnd = z.toByteArray
    val out = Multimodal.videoMeta(
        Seq((1L, large), (2L, toEnd)).toDF("id", "payload"), "payload", "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(1L, 2L).foreach { id =>
      assert(out(id).getString(1) == graft.harness.VideoFixture.brand(7L))
      assert(out(id).getLong(3) == graft.harness.VideoFixture.durationMs(7L))
    }
  }

  test("video meta: corrupt, truncated and non-BMFF payloads refuse, never hang") {
    val good = graft.harness.VideoFixture.encode(4L)
    // truncated mid-moov: a declared box extent past the payload end
    val truncated = good.take(good.length - 30)
    // a box declaring size 4 (< header size): zero/negative advance as Int
    // arithmetic — the Long walk must refuse. The 'free' box header sits
    // right after the 24-byte ftyp.
    val evil = good.clone()
    evil(24) = 0; evil(25) = 0; evil(26) = 0; evil(27) = 4
    // v1 mvhd duration so large that ·1000 would overflow Long: a garbage
    // negative duration_ms must not escape as a non-null "fact"
    val v1 = graft.harness.VideoFixture.encode(7L) // id%3==1 -> v1 boxes
    val mv = v1.indexOfSlice("mvhd".getBytes("US-ASCII"))
    assert(mv > 0)
    val durOff = mv + 4 + 4 + 16 + 4 // verflags, creation(8)+modification(8), ts
    v1(durOff) = 0x40.toByte
    (1 to 7).foreach(j => v1(durOff + j) = 0)
    val out = Multimodal.videoMeta(
        Seq((1L, "long enough but not a video container".getBytes), (2L, truncated), (3L, evil),
          (4L, good.take(10)), (5L, v1)).toDF("id", "payload"), "payload", "id")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(out(1L) && out(2L) && out(3L) && out(4L) && out(5L), out.toString)
    val ex = intercept[Exception] {
      Multimodal.videoMeta(Seq((1L, "junk".getBytes)).toDF("id", "payload"),
        "payload", "id", strict = true).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("unrecognized"), ex.getMessage)
  }

  test("media meta uses REAL parsed video dims and duration for BMFF payloads") {
    import graft.harness.VideoFixture
    val mp4 = VideoFixture.encode(6L)
    val df = Seq((1L, mp4), (2L, "plain payload".getBytes)).toDF("id", "payload")
    val out = Multimodal.withMediaMeta(df, "payload", lit("video/mp4"))
      .select("id", "media_meta").collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(out(1L).getAs[Int]("width") == VideoFixture.width(6L))
    assert(out(1L).getAs[Int]("height") == VideoFixture.height(6L))
    assert(out(1L).getAs[Long]("duration_ms") == VideoFixture.durationMs(6L))
    assert(out(2L).getAs[Long]("duration_ms") >= 0L) // stub fallback intact
  }

  test("media meta uses REAL parsed dims for image payloads, stub otherwise") {
    val pngBytes = graft.harness.ImageFixture.encode(0L) // png 16x16
    val df = Seq((1L, pngBytes), (2L, "not an image".getBytes)).toDF("id", "payload")
    val out = Multimodal.withMediaMeta(df, "payload", lit("image/png"))
      .select("id", "media_meta").collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(out(1L).getAs[Int]("width") == graft.harness.ImageFixture.width(0L))
    assert(out(1L).getAs[Int]("height") == graft.harness.ImageFixture.height(0L))
    // non-image payload: deterministic stub dims still present (non-null)
    assert(out(2L).getAs[Int]("width") >= 1 && out(2L).getAs[Int]("height") >= 1)
  }
}

class KeywordSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bm25: hand-computed ranking on a four-doc corpus") {
    // corpus: N=4, dl = 4,4,2,3, avgdl = 13/4
    val docs = Seq(
      (1L, "cat dog cat bird"),   // tf(cat)=2
      (2L, "dog dog dog dog"),    // no cat
      (3L, "cat fish"),           // tf(cat)=1, short doc
      (4L, "bird fish bird"),     // no cat/dog
    ).toDF("doc_id", "text")
    val out = graft.operators.KeywordSearch.bm25TopK(
        docs, "text", "doc_id", Seq(("q", "cat dog")), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
    // mirror the exact formula driver-side
    val n = 4.0; val avgdl = 13.0 / 4.0
    // StrictMath mirrors the engine (Spark's in-plan log IS StrictMath.log)
    def idf(df: Double) = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val (idfCat, idfDog) = (idf(2.0), idf(2.0))
    def term(i: Double, tf: Double, dl: Double) =
      i * tf * (1.2 + 1.0) / (tf + (1.2 * (1 - 0.75) + (1.2 * 0.75 / avgdl) * dl))
    def score(tfc: Double, tfd: Double, dl: Double) =
      term(idfCat, tfc, dl) + term(idfDog, tfd, dl)
    val want = Seq(
      (1L, score(2, 1, 4)), (2L, score(0, 4, 4)), (3L, score(1, 0, 2)))
      .sortBy { case (id, s) => (-s, id) }
    assert(out.map(_._2).toSeq == want.map(_._1), out.mkString(", "))
    out.zip(want).foreach { case (got, (_, s)) =>
      assert(got._3 == s, s"score mismatch: $got vs $s") } // bit-exact
    assert(out.map(_._1).toSeq == (1 to out.length), "ranks dense from 1")
    // doc 4 carries no query term: pruned, never ranked
    assert(!out.exists(_._2 == 4L))
    // integer facts
    val byId = out.map(r => r._2 -> ((r._4, r._5))).toMap
    assert(byId(1L) == ((4L, 3L)) && byId(2L) == ((4L, 4L)) && byId(3L) == ((2L, 1L)))
  }

  test("bm25: duplicate query terms, multiple queries, empty-match query") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val out = graft.operators.KeywordSearch.bm25TopK(
        docs, "text", "doc_id",
        Seq(("a", "alpha alpha"), ("z", "zebra")), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    // duplicate terms contribute twice (short-query BM25 degeneracy, doc'd);
    // a query matching nothing yields zero rows, not an error
    assert(out == Set(("a", 1L)), out.toString)
  }

  test("bm25: ties break on doc id and k truncates") {
    val docs = (1L to 6L).map(i => (i, "same words here")).toDF("doc_id", "text")
    val out = graft.operators.KeywordSearch.bm25TopK(
        docs, "text", "doc_id", Seq(("q", "same")), k = 4)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L, 2L, 3L, 4L), out.toString)
  }

  test("bm25Batch: bit-identical to the literal form (duplicate terms, absent terms, zero-len doc)") {
    val docs = Seq(
      (1L, "cat dog cat bird"), (2L, "dog dog dog dog"),
      (3L, "cat fish"), (4L, "bird fish bird"), (5L, "")).toDF("doc_id", "text")
    // q2's duplicate 'cat' + corpus-absent 'zebra' exercise the ordered
    // fold exactly where the two forms could diverge: the literal form
    // sums a +0.0 for zebra, the posting form never sees it — bit-equal
    // because +0.0 preserves float bits
    val battery = Seq(("q1", "cat dog"), ("q2", "cat cat zebra"), ("q3", "bird fish"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toSet
    val lit = rows(graft.operators.KeywordSearch.bm25TopK(docs, "text", "doc_id", battery, k = 3))
    val inv = rows(graft.operators.KeywordSearch.bm25Batch(docs, "text", "doc_id",
      battery.toDF("qid", "qtext"), "qid", "qtext", k = 3))
    assert(inv == lit, s"\nbatch: $inv\nliteral: $lit") // float score included: bit-exact
  }

  test("bm25Batch: blank or match-less probes rank nothing instead of aborting the battery") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val battery = Seq(("ok", "beta"), ("blank", "   "), ("miss", "zebra")).toDF("qid", "qtext")
    val out = graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", battery, "qid", "qtext", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(out == Set(("ok", 1L), ("ok", 2L)), out.toString)
  }

  test("TermCounts kernel: interpreted eval and codegen agree; duplicates, null tokens, type check (r13)") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val terms = Seq("cat", "dog", "fish")
    // interpreted path: direct eval over ArrayData; null ELEMENTS skip
    val kernel = graft.functions.TermCounts(
      Literal.create(Seq("cat", "dog", "cat", null, "bird"), ArrayType(StringType)), terms)
    val got = kernel.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(got.toIntArray().toSeq == Seq(2, 1, 0))
    // codegen path (whole-stage projection) must agree with hand counts
    val df = Seq(
      (1L, Seq("cat", "dog", "cat", "bird")),
      (2L, Seq.empty[String]),
      (3L, Seq("fish", "fish", "fish"))).toDF("id", "toks")
    val tfCol = GraftColumnBridge.column(graft.functions.TermCounts(
      GraftColumnBridge.expression(col("toks")), terms))
    val out = df.select(col("id"), tfCol.as("tf")).orderBy("id")
      .collect().map(_.getSeq[Int](1).toSeq).toSeq
    assert(out == Seq(Seq(2, 1, 0), Seq(0, 0, 0), Seq(0, 0, 3)), out.toString)
    // null token ARRAY → null vector (UnaryExpression null propagation)
    val withNull = Seq((1L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
    assert(withNull.select(tfCol.as("tf")).collect()(0).isNullAt(0))
    // non-array input refuses at analysis, empty term list at construction
    assertThrows[org.apache.spark.sql.AnalysisException] {
      df.select(GraftColumnBridge.column(graft.functions.TermCounts(
        GraftColumnBridge.expression(col("id")), terms))).collect()
    }
    assert(intercept[IllegalArgumentException] {
      graft.functions.TermCounts(GraftColumnBridge.expression(col("toks")), Nil)
    }.getMessage.contains("empty term list"))
  }

  test("OrderedContribSum kernel: ord-sorted left-to-right fold, eval + codegen + declarative parity (r13)") {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // magnitudes chosen so float addition is ORDER-SENSITIVE: 1e16 + 1.0
    // absorbs the 1.0 (ulp(1e16) = 2), so ord order vs arrival order
    // produce different bits — the fold must recover ord order
    val contribs = Seq(0 -> 1.0e16, 1 -> 1.0, 2 -> -1.0e16, 3 -> 0.5)
    val scrambled = Seq(2, 0, 3, 1).map(contribs) // arrival order ≠ ord order
    val ordered = contribs.map(_._2).foldLeft(0.0)(_ + _)   // = 0.5
    val arrival = scrambled.map(_._2).foldLeft(0.0)(_ + _)  // = 1.5
    assert(ordered != arrival, "fixture must be order-sensitive")
    // interpreted path: direct fold over ArrayData in arrival order
    val items = new GenericArrayData(
      scrambled.map { case (o, c) => InternalRow(o, c) }.toArray[Any])
    val kernel = graft.functions.OrderedContribSum(Literal(null))
    assert(kernel.fold(items) == ordered)
    // codegen path: through an aggregation, input order from a sorted-by-
    // arrival frame; must still fold in ord order
    val df = scrambled.zipWithIndex.map { case ((o, c), i) => (1L, i, o, c) }
      .toDF("g", "arrival", "ord", "c")
    val folded = GraftColumnBridge.column(graft.functions.OrderedContribSum(
      GraftColumnBridge.expression(
        collect_list(struct(col("ord").cast("int"), col("c"))))))
    val got = df.repartition(1).sortWithinPartitions("arrival")
      .groupBy("g").agg(folded.as("s")).collect()(0).getDouble(1)
    assert(got == ordered, s"codegen fold: $got vs $ordered")
    // the doc'd declarative twin: aggregate(array_sort(collect_list(...)))
    val decl = df.repartition(1).sortWithinPartitions("arrival")
      .groupBy("g").agg(expr(
        "aggregate(array_sort(collect_list(struct(cast(ord as int) as ord, c))), " +
          "cast(0.0 as double), (acc, x) -> acc + x.c)").as("s"))
      .collect()(0).getDouble(1)
    assert(decl == ordered, s"declarative twin: $decl vs $ordered")
  }

  test("bm25Batch: forced wide-ord fold and >1024-term explode postings stay bit-identical to the literal form (r13)") {
    val docs = Seq(
      (1L, "cat dog cat bird"), (2L, "dog dog dog dog"),
      (3L, "cat fish"), (4L, "bird fish bird"), (5L, "")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toSet

    // (a) a 33-token probe → global maxOrd = 32 → the OrderedContribSum
    //     fold for EVERY query (vocabulary stays small: TermCounts
    //     postings); 'zzz' is corpus-absent, so the fold sees a missing
    //     ord exactly where the literal form adds +0.0
    val wide = (Seq.fill(10)("cat dog bird") :+ "cat fish zzz").mkString(" ")
    val batteryA = Seq(("q1", "cat dog"), ("qw", wide))
    val litA = rows(graft.operators.KeywordSearch.bm25TopK(
      docs, "text", "doc_id", batteryA, k = 4))
    val invA = rows(graft.operators.KeywordSearch.bm25Batch(
      docs, "text", "doc_id", batteryA.toDF("qid", "qtext"), "qid", "qtext", k = 4))
    assert(invA == litA, s"\nwide-ord batch: $invA\nliteral: $litA") // float bits included

    // (b) kernelVocabCap = 0 forces the EXPLODE+SEMI-JOIN posting build
    //     (the organic threshold is 65,536 since r15 — too large for a
    //     unit battery; the PlanAuditSpec xor pin covers the organic
    //     switch); pad terms keep the vocabulary non-trivial and match
    //     nothing, so the real-probe slice is the literal ranking
    val pads = (0 until 1023).map(i => (f"pad$i%04d", f"qzxpad$i%04d"))
    val batteryB = Seq(("q1", "cat dog"), ("q2", "cat cat zebra"), ("q3", "bird fish"))
    val litB = rows(graft.operators.KeywordSearch.bm25TopK(
      docs, "text", "doc_id", batteryB, k = 3))
    val invB = rows(graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", (batteryB ++ pads).toDF("qid", "qtext"), "qid", "qtext", k = 3,
        kernelVocabCap = 0)
      .filter(col("query_id").isin("q1", "q2", "q3")))
    assert(invB == litB, s"\nbig-vocab batch: $invB\nliteral: $litB")

    // (b') the same pad battery through the ORGANIC branch — the sparse
    //      TermPostings kernel at a >1,024-term vocabulary (the size that
    //      used to force the explode): rows must equal the literal form
    //      AND the forced-explode form bit-for-bit
    val invB2 = rows(graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", (batteryB ++ pads).toDF("qid", "qtext"), "qid", "qtext", k = 3)
      .filter(col("query_id").isin("q1", "q2", "q3")))
    assert(invB2 == litB, s"\nkernel big-vocab batch: $invB2\nliteral: $litB")

    // (c) both scale branches at once: forced explode postings + ordered fold
    val invC = rows(graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", (batteryA ++ pads).toDF("qid", "qtext"), "qid", "qtext", k = 4,
        kernelVocabCap = 0)
      .filter(col("query_id").isin("q1", "qw")))
    assert(invC == litA, s"\nexplode+fold batch: $invC\nliteral: $litA")
  }

  test("rrfFuse: hand-computed fusion, one-source docs, tie rule, bad input refuses (r12)") {
    def ranking(rows: (String, Long, Int)*) = rows.toSeq.toDF("query_id", "doc_id", "rank")
    val a = ranking(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3))
    val b = ranking(("q", 2L, 1), ("q", 4L, 2))
    val got = graft.operators.Fusion.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(2), r.getInt(1), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5)))
      .sortBy(_._2)
    def s(ra: Int, rb: Int) =
      (if (ra > 0) 1.0 / (60.0 + ra) else 0.0) + (if (rb > 0) 1.0 / (60.0 + rb) else 0.0)
    // doc 2 leads (both sources), then 1 (a rank 1), 4 (b rank 2), 3
    val want = Seq((2L, s(2, 1)), (1L, s(1, 0)), (4L, s(0, 2)), (3L, s(3, 0)))
    assert(got.map(_._1).toSeq == want.map(_._1), got.mkString(","))
    got.zip(want).foreach { case (g, (_, sc)) => assert(g._3 == sc, g.toString) } // bit-exact
    assert(got.map(x => (x._4, x._5)).toSeq ==
      Seq((2L, 1L), (1L, -1L), (-1L, 2L), (3L, -1L)))  // source ranks ride along
    // exact tie (same single-source rank) breaks on doc id ascending
    val t1 = ranking(("q", 9L, 1))
    val t2 = ranking(("q", 5L, 1))
    val tied = graft.operators.Fusion.rrfFuse(Seq(t1, t2), k = 10)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(tied == Seq(5L, 9L), tied.toString)
    assert(intercept[IllegalArgumentException] {
      graft.operators.Fusion.rrfFuse(Seq(a), k = 10)
    }.getMessage.contains("two rankings"))
    assert(intercept[IllegalArgumentException] {
      graft.operators.Fusion.rrfFuse(Seq(a, b.withColumnRenamed("rank", "r")), k = 10)
    }.getMessage.contains("lacks column"))
  }
}

class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.operators.KeywordSearch

  test("posting index: build + append + search is bit-identical to the literal form (r14)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", dir, overwrite = true)
    KeywordSearch.bm25IndexAppend(spark, dir,
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    val battery = Seq(("q1", "spark hash join"), ("q2", "fast table scan"))
      .toDF("qid", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5))).toSet
    val indexed = rows(KeywordSearch.bm25SearchIndexed(
      spark, dir, battery, "qid", "qtext", k = 10))
    val literal = rows(KeywordSearch.bm25TopK(docs, "text", "doc_id",
      Seq(("q1", "spark hash join"), ("q2", "fast table scan")), k = 10))
    assert(indexed === literal) // scores bit-exact incl. doubles

    // batch 0's files never rewrite across an append
    val b0 = java.nio.file.Paths.get(dir, "postings", "b0")
    val before = java.nio.file.Files.list(b0).toArray.map(_.toString).sorted
    KeywordSearch.bm25IndexAppend(spark, dir,
      Seq((1000000L, "entirely new words")).toDF("doc_id", "text"), "text", "doc_id")
    assert(java.nio.file.Files.list(b0).toArray.map(_.toString).sorted.sameElements(before))

    // an orphan batch dir beyond the meta is INVISIBLE (torn-append safety)
    val orphan = java.nio.file.Paths.get(dir, "postings", "b99")
    java.nio.file.Files.createDirectories(orphan)
    assert(rows(KeywordSearch.bm25SearchIndexed(
      spark, dir, battery, "qid", "qtext", k = 10)).nonEmpty)

    // refusals: id collision with the store, duplicate ids in a delta,
    // rebuild without overwrite, search on a non-index dir
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexAppend(spark, dir,
        Seq((1000000L, "again")).toDF("doc_id", "text"), "text", "doc_id")
    }.getMessage.contains("re-uses doc ids"))
    val dupMsg = Iterator.iterate(intercept[Exception] {
      KeywordSearch.bm25IndexAppend(spark, dir,
        Seq((2000000L, "x"), (2000000L, "y")).toDF("doc_id", "text"), "text", "doc_id")
    }: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(dupMsg.contains("duplicate doc ids"), dupMsg.take(300))
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir)
    }.getMessage.contains("already holds an index"))
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25SearchIndexed(spark,
        java.nio.file.Files.createTempDirectory("graft_noidx").toString,
        battery, "qid", "qtext")
    }.getMessage.contains("not a bm25 index"))
  }

  test("posting-index compaction: single globally-sorted batch, identical search (r14)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val src = java.nio.file.Files.createTempDirectory("graft_bm25_csrc").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_bm25_cdst").toString + "/idx"
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", src, overwrite = true)
    KeywordSearch.bm25IndexAppend(spark, src,
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    KeywordSearch.bm25IndexCompact(spark, src, dst)
    val battery = Seq(("q1", "spark hash join"), ("q2", "fast table scan"))
      .toDF("qid", "qtext")
    def rows(d: String) = KeywordSearch.bm25SearchIndexed(
        spark, d, battery, "qid", "qtext", k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(rows(dst) == rows(src)) // scores bit-exact across compaction
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "postings", "b1")))
    // meta stats carry over; models derived from either store agree
    val bat = Seq(("q1", "spark hash join"))
    val mSrc = KeywordSearch.bm25ModelFromIndex(spark, src, bat)
    val mDst = KeywordSearch.bm25ModelFromIndex(spark, dst, bat)
    assert(mSrc.avgdl == mDst.avgdl && mSrc.idf.toSeq == mDst.idf.toSeq)
    // destination refusal without overwrite; source untouched (2 batches)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexCompact(spark, src, dst)
    }.getMessage.contains("already holds an index"))
    val srcMeta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(src, "meta.json")), "UTF-8")
    assert(srcMeta.contains("\"batches\": 2"))
  }

  test("bm25ModelFromIndex equals the corpus-scan model bit-for-bit; zero-df terms included (r14)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_midx").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir, overwrite = true)
    // 'zzznope' matches nothing: its idf must come from df = 0, same as
    // the corpus-scan build
    val bat = Seq(("q1", "spark hash join"), ("qz", "zzznope table"))
    val fromScan  = KeywordSearch.bm25Model(docs, "text", bat)
    val fromIndex = KeywordSearch.bm25ModelFromIndex(spark, dir, bat)
    assert(fromIndex.terms == fromScan.terms)
    assert(fromIndex.avgdl == fromScan.avgdl) // exact: integer sumdl / n
    fromScan.idf.zip(fromIndex.idf).zip(fromScan.terms).foreach { case ((a, c), t) =>
      assert(java.lang.Double.doubleToLongBits(a) ==
        java.lang.Double.doubleToLongBits(c), s"idf drift on '$t': $a vs $c")
    }
    assert(fromIndex.queries == fromScan.queries)
    // ...so the streaming scorer produces byte-identical rows either way
    val a = KeywordSearch.bm25Score(docs, "text", "doc_id", fromScan)
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    val c = KeywordSearch.bm25Score(docs, "text", "doc_id", fromIndex)
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(a === c)
  }

  test("poisoned rebuild leaves the old posting index byte-intact and searchable (r15)") {
    // r15 staged-rebuild posture (the AnnIndexSpec twin): overwrite = true
    // builds into a hidden sibling and swaps only after the staged meta
    // commits, so an encode-time failure — duplicate doc ids, refused by
    // the batch write's read-back validation — leaves the live store
    // untouched rather than deleted
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_poison").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 100), "text", "doc_id", dir, overwrite = true)
    def storeFiles = StoreTestUtil.fileSnapshot(dir)
    val before = storeFiles
    val dup = docs.filter(col("doc_id") < 50)
      .unionByName(docs.filter(col("doc_id") < 50))
    val e = intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexBuild(dup, "text", "doc_id", dir, overwrite = true)
    }
    assert(e.getMessage.contains("duplicate doc ids"))
    assert(storeFiles == before) // same names, sizes, mtimes — untouched
    val battery = Seq(("q1", "spark hash join")).toDF("qid", "qtext")
    assert(KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext",
      k = 5).count() == 5L)
    // a subsequent good rebuild clobbers the stale staged dir and swaps in
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 80), "text", "doc_id", dir, overwrite = true)
    assert(KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext",
      k = 5).count() == 5L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir).getParent.resolve(
        "." + java.nio.file.Paths.get(dir).getFileName.toString + ".rebuild")))
    // a non-empty NON-STORE dir refuses without overwrite (the swap would
    // delete it); an empty placeholder dir replaces silently
    val plain = java.nio.file.Files.createTempDirectory("graft_bm25_nonstore")
    java.nio.file.Files.writeString(plain.resolve("precious.txt"), "bytes")
    val e2 = intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexBuild(
        docs.filter(col("doc_id") < 50), "text", "doc_id", plain.toString)
    }
    assert(e2.getMessage.contains("is not a bm25 index"))
    assert(java.nio.file.Files.exists(plain.resolve("precious.txt")))
    // ...and COMPACT refuses the same dir (it would write store planes
    // among the user's bytes, arming a later overwrite to delete them)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexCompact(spark, dir, plain.toString)
    }.getMessage.contains("is not a bm25 index"))
    assert(java.nio.file.Files.exists(plain.resolve("precious.txt")))
  }

  test("delete: scores equal a rebuild without the rows; compact drops tombstones and reclaims ids (r15)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // poison docs stuffed with the battery's own terms — they WOULD rank
    // top-1 if the tombstone plane leaked anywhere (scoring, df, stats)
    val extra = spark.range(5).select((col("id") + 10000000L).as("doc_id"),
      lit("spark hash join spark hash join spark").as("text"))
    val dirA = java.nio.file.Files.createTempDirectory("graft_bm25_delA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_bm25_delB").toString
    KeywordSearch.bm25IndexBuild(docs.unionByName(extra), "text", "doc_id", dirA,
      overwrite = true)
    KeywordSearch.bm25IndexDelete(spark, dirA, extra.select("doc_id"), "doc_id")
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dirB, overwrite = true)
    val battery = Seq(("q1", "spark hash join"), ("q2", "fast table scan"))
      .toDF("qid", "qtext")
    def rows(dir: String) = KeywordSearch.bm25SearchIndexed(
        spark, dir, battery, "qid", "qtext", k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    val a = rows(dirA)
    assert(a == rows(dirB)) // bit-identical to the rebuild, float bits included
    assert(!a.exists(_._3 >= 10000000L)) // deleted docs gone from the ranking
    // the derived model (df/idf/avgdl from the index) matches the rebuild too
    val bat = Seq(("q1", "spark hash join"))
    val mA = KeywordSearch.bm25ModelFromIndex(spark, dirA, bat)
    val mB = KeywordSearch.bm25ModelFromIndex(spark, dirB, bat)
    assert(mA.avgdl == mB.avgdl &&
      mA.idf.map(java.lang.Double.doubleToLongBits).toSeq ==
        mB.idf.map(java.lang.Double.doubleToLongBits).toSeq)
    // refusals: absent id, double delete, duplicate ids, empty set
    import spark.implicits._
    def del(ids: Seq[Long]) = KeywordSearch.bm25IndexDelete(
      spark, dirA, ids.toDF("doc_id"), "doc_id")
    assert(intercept[IllegalArgumentException] { del(Seq(999999999L)) }
      .getMessage.contains("not live"))
    assert(intercept[IllegalArgumentException] { del(Seq(10000001L)) }
      .getMessage.contains("not live")) // already deleted
    assert(intercept[IllegalArgumentException] { del(Seq(1L, 1L)) }
      .getMessage.contains("duplicates"))
    assert(intercept[IllegalArgumentException] { del(Seq.empty[Long]) }
      .getMessage.contains("empty id set"))
    // append refuses a deleted id (resurrection would race the anti-join)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexAppend(spark, dirA,
        Seq((10000001L, "fresh text")).toDF("doc_id", "text"), "text", "doc_id")
    }.getMessage.contains("deleted"))
    // compact physically drops the tombstoned rows and resets the plane
    val dirC = java.nio.file.Files.createTempDirectory("graft_bm25_delC").toString
    KeywordSearch.bm25IndexCompact(spark, dirA, dirC, overwrite = true)
    assert(rows(dirC) == a)
    assert(spark.read.parquet(s"$dirC/docs/b0")
      .filter(col("doc_id") >= 10000000L).count() == 0L)
    val metaC = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirC, "meta.json")), "UTF-8")
    assert(metaC.contains("\"tombBatches\": 0"))
    // ...after which the deleted ids are free again
    KeywordSearch.bm25IndexAppend(spark, dirC,
      Seq((10000001L, "reclaimed doc")).toDF("doc_id", "text"), "text", "doc_id")
    assert(KeywordSearch.bm25SearchIndexed(spark, dirC,
      Seq(("q", "reclaimed")).toDF("qid", "qtext"), "qid", "qtext", k = 3)
      .count() == 1L)
  }

  test("phrase search: adjacency from positions — hand corpus, repeated terms, edge shapes (r15)") {
    val docs = Seq(
      (1L, "a hash join and a hash join"), // "hash join" twice
      (2L, "join hash"),                   // reversed — no match
      (3L, "hash x join"),                 // gapped — no match
      (4L, "the the the"),                 // "the the" OVERLAPS: starts 0 and 1
      (5L, ""),                            // empty doc (counts in N/avgdl only)
      (6L, "hash join")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_phrase").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    def hits(phrase: String): Seq[(Long, Long)] =
      KeywordSearch.bm25PhraseTopK(spark, dir, Seq(("p", phrase)), k = 10)
        .orderBy("rank").collect().map(r => (r.getLong(2), r.getLong(5))).toSeq
    assert(hits("hash join").toSet == Set((1L, 2L), (6L, 1L)))
    assert(hits("join hash") == Seq((2L, 1L))) // doc 2 IS adjacent for the reverse
    assert(hits("hash x join") == Seq((3L, 1L)))
    assert(hits("the the").toSet == Set((4L, 2L))) // overlapping starts both count
    assert(hits("the the the") == Seq((4L, 1L)))
    assert(hits("hash").map(_._1).toSet == Set(1L, 2L, 3L, 6L)) // L=1 = plain tf
    assert(hits("zzznope").isEmpty)
    // rank ORDER pin: doc 6 ("hash join", dl = 2) outscores doc 1 (tf = 2
    // but dl = 7) — Okapi's length normalization dominates here: with
    // avgdl = 17/6, score(6) = idf·1·2.2/1.935 > score(1) = idf·2·2.2/4.524
    assert(hits("hash join") == Seq((6L, 1L), (1L, 2L)))
    // a store built WITHOUT positions refuses phrase search loudly
    val flat = java.nio.file.Files.createTempDirectory("graft_bm25_flat").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", flat, overwrite = true)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseTopK(spark, flat, Seq(("p", "hash join")))
    }.getMessage.contains("without the positions plane"))
  }

  test("NEAR-k proximity: banded votes — hand corpus truth table; slop 0 equals exact phrase (r16)") {
    val docs = Seq(
      (1L, "hash join"),            // exact: matches at every slop
      (2L, "hash x join"),          // one insertion: slop >= 1
      (3L, "hash x y join"),        // two insertions: slop >= 2
      (4L, "z join hash"),          // transposed past the doc start:
                                    // slop >= 2 (each band covers the
                                    // other's slot; at the very start the
                                    // leading ordinal has no band room)
      (5L, "hash x y z join"),      // three insertions: slop >= 3
      (6L, "a batch c"),            // single 'batch': band-overlap quirk
      (7L, "the batch batch")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_near").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    def hits(phrase: String, slop: Int): Map[Long, Long] =
      KeywordSearch.bm25PhraseTopK(spark, dir, Seq(("p", phrase)), k = 10, slop = slop)
        .collect().map(r => r.getLong(2) -> r.getLong(5)).toMap
    assert(hits("hash join", 0).keySet == Set(1L))
    assert(hits("hash join", 1).keySet == Set(1L, 2L))
    assert(hits("hash join", 2).keySet == Set(1L, 2L, 3L, 4L))
    assert(hits("hash join", 3).keySet == Set(1L, 2L, 3L, 4L, 5L))
    // repeated-term band overlap at slop >= 1: ONE 'batch' occurrence
    // satisfies both 'batch' ordinals (the documented quirk); at slop = 0
    // it cannot
    assert(hits("batch batch", 0).keySet == Set(7L))
    assert(hits("batch batch", 1).keySet == Set(6L, 7L))
    // slop = 0 IS the exact phrase path, bit for bit
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_bm25_near0").toString
    KeywordSearch.bm25IndexBuild(corpus, "text", "doc_id", dir2,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"))
    def rows(slop: Int) = KeywordSearch.bm25PhraseTopK(spark, dir2, phrases,
        k = 10, slop = slop)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(rows(0) == rows(0)) // determinism sanity
    val exact = KeywordSearch.bm25PhraseTopK(spark, dir2, phrases, k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(rows(0) == exact)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseTopK(spark, dir2, phrases, slop = -1)
    }.getMessage.contains("slop must be >= 0"))
  }

  test("NEAR scorer: frozen slop model scores bit-identically to the indexed NEAR search (r16)") {
    // the streaming-shaped proximity plane: df frozen from the positions
    // plane's BANDED vote, tf row-local via the slop-aware PhraseKernel
    // loop — both sides must implement one proximity rule or the
    // score bits drift (the r15 phrase-scorer pin, at slop = 1)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_nsc").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"))
    val model = KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases, slop = 1)
    assert(model.slop == 1)
    val scored = KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3),
        r.getLong(4))).toSet
    val topk = KeywordSearch.bm25PhraseTopK(spark, dir, phrases, k = 1000000, slop = 1)
      .collect().map(r => (r.getString(0), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    assert(scored.nonEmpty && scored == topk) // score BITS included
    // slop = 1 strictly widens the match set vs the exact model on this
    // corpus (gapped bigrams exist), so the pin is not vacuous
    val exact = KeywordSearch.bm25PhraseScore(docs, "text", "doc_id",
      KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases))
      .count()
    assert(scored.size > exact)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases, slop = -1)
    }.getMessage.contains("slop must be >= 0"))
  }

  test("positional store: append inherits the plane; delete and compact keep phrase results exact (r15)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dirA = java.nio.file.Files.createTempDirectory("graft_bm25_posA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_bm25_posB").toString
    // build-even + append-odd must phrase-search bit-identically to a
    // one-shot positional build (the delta writes its positions batch
    // because the META says so — no caller flag on append)
    KeywordSearch.bm25IndexBuild(docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", dirA, overwrite = true, positions = true)
    KeywordSearch.bm25IndexAppend(spark, dirA,
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dirB,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"))
    def rows(dir: String) = KeywordSearch.bm25PhraseTopK(spark, dir, phrases, k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    val a = rows(dirA)
    assert(a.nonEmpty && a == rows(dirB))
    // delete every doc that matches p1 at rank <= 2, rebuild-compare
    val victims = KeywordSearch.bm25PhraseTopK(spark, dirA, Seq(("p1", "hash join")), k = 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    import spark.implicits._
    KeywordSearch.bm25IndexDelete(spark, dirA, victims.toDF("doc_id"), "doc_id")
    val dirR = java.nio.file.Files.createTempDirectory("graft_bm25_posR").toString
    KeywordSearch.bm25IndexBuild(docs.filter(!col("doc_id").isin(victims: _*)),
      "text", "doc_id", dirR, overwrite = true, positions = true)
    val afterDelete = rows(dirA)
    assert(afterDelete == rows(dirR)) // bit-identical scores incl. idf/avgdl
    assert(!afterDelete.exists(r => victims.contains(r._3)))
    // compact carries the positions plane, drops tombstones physically
    val dirC = java.nio.file.Files.createTempDirectory("graft_bm25_posC").toString
    KeywordSearch.bm25IndexCompact(spark, dirA, dirC, overwrite = true)
    assert(rows(dirC) == afterDelete)
    assert(spark.read.parquet(s"$dirC/positions/b0")
      .filter(col("doc_id").isin(victims: _*)).count() == 0L)
  }

  test("writer lease, crashed-swap auto-recovery, tombstone ledger + cap (r16)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_r16").toString + "/idx"
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 100), "text", "doc_id", dir, overwrite = true)
    val battery = Seq(("q1", "spark hash join")).toDF("qid", "qtext")

    // --- writer LEASE: a held lease refuses every mutation loudly; the
    // store is single-writer CHECKED, not just by convention (r16)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = graft.sources.StoreMeta.lockPath(root)
    fs.create(lock, false).close()
    def appendOne(id: Long) = KeywordSearch.bm25IndexAppend(spark, dir,
      Seq((id, "fresh words")).toDF("doc_id", "text"), "text", "doc_id")
    assert(intercept[IllegalStateException] { appendOne(5000L) }
      .getMessage.contains("holds the lease"))
    assert(intercept[IllegalStateException] {
      KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir, overwrite = true)
    }.getMessage.contains("holds the lease"))
    assert(intercept[IllegalStateException] {
      KeywordSearch.bm25IndexDelete(spark, dir, Seq(1L).toDF("doc_id"), "doc_id")
    }.getMessage.contains("holds the lease"))
    // readers take no lease — searches run under a held one
    assert(KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext",
      k = 3).count() == 3L)
    fs.delete(lock, false)
    appendOne(5000L) // a released lease admits the writer again...
    assert(!fs.exists(lock)) // ...and a finished writer leaves none behind

    // --- crashed swapInto, window between its two renames: the exact
    // on-disk state is old store parked at the hidden .old sibling, the
    // complete rebuilt store at the staged sibling, NO live root. The
    // next open must complete the swap: staged in, .old cleared, and the
    // STAGED content (its meta committed last = authoritative) served.
    val other = java.nio.file.Files.createTempDirectory("graft_bm25_r16b").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 40), "text", "doc_id", other, overwrite = true)
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other), staged))
    val healed = KeywordSearch.bm25ModelFromIndex(spark, dir, Seq(("q", "spark")))
    // 40-doc store ⇒ its stats, not the parked 101-doc store's
    val mOther = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    assert(mOther.contains("\"n\": 40"), mOther)
    assert(healed.avgdl > 0)
    assert(!fs.exists(staged) && !fs.exists(old))
    assert(KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext",
      k = 3).count() == 3L)

    // --- stale-lease auto-break (r16 review sweep): a lease naming a
    // DEAD same-host pid breaks on the next acquisition instead of
    // bricking the store behind a crashed process; a LIVE foreign pid
    // (init's) still refuses; recovery likewise defers to a live lease
    // (no reader may complete a swap a live writer is mid-way through)
    def writeLease(pid: Long): Unit = {
      val o = fs.create(lock, true)
      val host = java.net.InetAddress.getLocalHost.getHostName
      try o.write(s"""{"pid": $pid, "host": "$host", "op": "t", "epoch_ms": 0}"""
        .getBytes("UTF-8")) finally o.close()
    }
    val deadPid = Iterator.from(900000).find(p =>
      !ProcessHandle.of(p.toLong).isPresent).get.toLong
    writeLease(deadPid)
    appendOne(5001L) // dead-pid lease broke automatically
    assert(!fs.exists(lock))
    writeLease(1L) // pid 1 is alive and not us — a live foreign writer
    assert(intercept[IllegalStateException] { appendOne(5002L) }
      .getMessage.contains("holds the lease"))
    // crashed-swap state under the live lease: recovery must NOT fire
    // (the "crash" could be a live writer between its two renames)
    val other2 = java.nio.file.Files.createTempDirectory("graft_bm25_r16d").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 30), "text", "doc_id", other2, overwrite = true)
    writeLease(1L)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other2), staged))
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext", k = 3)
    }.getMessage.contains("not a bm25 index"))
    fs.delete(lock, false) // writer declared dead — next open heals
    assert(KeywordSearch.bm25SearchIndexed(spark, dir, battery, "qid", "qtext",
      k = 3).count() == 3L)
    assert(!fs.exists(staged) && !fs.exists(old))
    // --- the .old leak (crash AFTER rename-in, before cleanup): a live
    // root with a parked old sibling reclaims on the next open
    fs.mkdirs(old)
    KeywordSearch.bm25ModelFromIndex(spark, dir, Seq(("q", "spark")))
    assert(!fs.exists(old))

    // --- tombstone ledger: deletes accumulate tombRows in meta; compact
    // resets it with the plane
    def meta() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    KeywordSearch.bm25IndexDelete(spark, dir, Seq(1L, 3L, 5L).toDF("doc_id"), "doc_id")
    assert(meta().contains("\"tombRows\": 3"), meta())
    KeywordSearch.bm25IndexDelete(spark, dir, Seq(7L, 9L).toDF("doc_id"), "doc_id")
    assert(meta().contains("\"tombRows\": 5"), meta())
    val dirC = java.nio.file.Files.createTempDirectory("graft_bm25_r16c").toString
    KeywordSearch.bm25IndexCompact(spark, dir, dirC, overwrite = true)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirC, "meta.json")), "UTF-8")
      .contains("\"tombRows\": 0"))

    // --- the broadcast cap: a store whose ledger sits at the cap refuses
    // further deletes and points at compaction (the failure would
    // otherwise land on every READER's tombstone broadcast)
    val nearCap = meta().replace("\"tombRows\": 5",
      s""""tombRows": ${graft.sources.StoreMeta.TombstoneRowCap - 1}""")
    assert(nearCap != meta())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "meta.json"), nearCap)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexDelete(spark, dir, Seq(11L, 13L).toDF("doc_id"), "doc_id")
    }.getMessage.contains("broadcast cap"))
  }

  test("lease TTL + heartbeat, atomic takeover, swap-window wait, build-path recovery (r17)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_r17").toString
    val dir = base + "/idx"
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 100), "text", "doc_id", dir, overwrite = true)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = graft.sources.StoreMeta.lockPath(root)
    def appendOne(id: Long) = KeywordSearch.bm25IndexAppend(spark, dir,
      Seq((id, "fresh words")).toDF("doc_id", "text"), "text", "doc_id")
    def writeLease(pid: Long, host: String, epoch: Long): Unit = {
      val o = fs.create(lock, true)
      try o.write(s"""{"pid": $pid, "host": "$host", "op": "t", "epoch_ms": $epoch}"""
        .getBytes("UTF-8")) finally o.close()
    }

    // --- cross-host TTL (r17): a foreign-host lease whose heartbeat went
    // silent past the TTL breaks on the next acquisition — through r16 a
    // crashed REMOTE writer bricked the store's whole mutation plane until
    // a human deleted the lease file. A FRESH foreign lease still refuses
    // (its writer is heartbeating — alive by definition of the discipline).
    writeLease(424242L, "some-other-host",
      System.currentTimeMillis - graft.sources.StoreMeta.LeaseTtlMs - 1000L)
    appendOne(6000L)
    assert(!fs.exists(lock))
    writeLease(424242L, "some-other-host", System.currentTimeMillis)
    assert(intercept[IllegalStateException] { appendOne(6001L) }
      .getMessage.contains("holds the lease"))
    fs.delete(lock, false)

    // --- heartbeat: a held lease re-stamps epoch_ms on the heartbeat
    // period, so a LIVE cross-host writer never ages into the TTL however
    // long its rebuild runs
    def stamp(): Long = {
      val in = fs.open(lock)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      import org.json4s._
      (org.json4s.jackson.JsonMethods.parse(text) \ "epoch_ms") match {
        case JInt(v) => v.longValue
        case other => fail(s"lease epoch_ms is $other in: $text")
      }
    }
    val savedHb = graft.sources.StoreMeta.leaseHeartbeatMs
    try {
      graft.sources.StoreMeta.leaseHeartbeatMs = 25L
      graft.sources.StoreMeta.withWriterLock(fs, root, "hb-test") {
        val first = stamp()
        val deadline = System.currentTimeMillis + 10000L
        var now = first
        while (now <= first && System.currentTimeMillis < deadline) {
          Thread.sleep(20L); now = stamp()
        }
        assert(now > first, "heartbeat never re-stamped the lease")
      }
    } finally graft.sources.StoreMeta.leaseHeartbeatMs = savedHb
    assert(!fs.exists(lock)) // release survives the heartbeat shutdown

    // --- ownership-checked heartbeat + release (r17): a writer whose
    // lease was LEGITIMATELY taken over (TTL + clock skew or a pause
    // longer than the TTL — the documented assumption) must, on resume,
    // neither re-stamp its heartbeat over the usurper's lease nor delete
    // it at release — both act by NAME and need the pid/host check
    def lockText(): String = {
      val in = fs.open(lock)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val usurper = s"""{"pid": 55555, "host": "usurper-host", """ +
      s""""op": "u", "epoch_ms": ${System.currentTimeMillis}}"""
    try {
      // a period long enough that the overwrite below lands BEFORE the
      // first heartbeat fire (the production-side in-flight race is the
      // documented skew-window residual, not what this pins)
      graft.sources.StoreMeta.leaseHeartbeatMs = 100L
      graft.sources.StoreMeta.withWriterLock(fs, root, "pause-test") {
        // simulate the takeover landing mid-body: the usurper's lease
        // replaces ours while we 'pause'
        val o = fs.create(lock, true)
        try o.write(usurper.getBytes("UTF-8")) finally o.close()
        Thread.sleep(350L) // several heartbeat periods
        assert(lockText().contains("usurper-host"),
          "heartbeat re-stamped over the usurper's lease")
      }
    } finally graft.sources.StoreMeta.leaseHeartbeatMs = savedHb
    assert(fs.exists(lock) && lockText().contains("usurper-host"),
      "release deleted the usurper's lease")
    fs.delete(lock, false)

    // --- atomic stale-lease takeover (r17): N racing acquirers over ONE
    // stale lease — creates are O_EXCL (NIO CREATE_NEW on the local
    // scheme; Hadoop's LocalFileSystem create is exists-THEN-create) and
    // the takeover runs under a breaker file that re-verifies the lease
    // BYTES are the ones judged stale before deleting (r16's
    // delete-then-create — and a name-keyed rename-aside — let a slow
    // acquirer destroy the fast winner's fresh lease); the rest refuse
    // with the single-writer message or serialize behind the release.
    // Invariant: never two holders at once.
    val deadPid = Iterator.from(900000).find(p =>
      !ProcessHandle.of(p.toLong).isPresent).get.toLong
    writeLease(deadPid, java.net.InetAddress.getLocalHost.getHostName, 0L)
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val racers = (1 to 6).map { _ =>
      new Thread(() => {
        try graft.sources.StoreMeta.withWriterLock(fs, root, "race") {
          val a = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, a))
          Thread.sleep(30L)
          active.decrementAndGet()
          wins.incrementAndGet()
        } catch { case _: IllegalStateException => () }
      })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(wins.get >= 1, "no racer ever acquired the stale lease")
    assert(maxActive.get == 1, s"${maxActive.get} writers held the lease at once")
    assert(!fs.exists(lock))
    assert(!fs.listStatus(lock.getParent)
      .exists(p => p.getPath.getName.contains(".broken-") ||
        p.getPath.getName.endsWith(".breaker"))) // no takeover litter

    // --- per-thread lease ownership + swap-window wait (r17): a reader
    // thread in the same JVM as a live writer mid-swap must NOT treat the
    // writer's lease as its own and 'recover' between the writer's two
    // renames (pid-granular reentrancy did — failing the writer's own
    // rename-in); it skips recovery and its open WAITS OUT the bounded
    // window instead of failing transiently.
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    val other = java.nio.file.Files.createTempDirectory("graft_bm25_r17b").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 40), "text", "doc_id", other, overwrite = true)
    val battery = Seq(("q1", "spark hash join")).toDF("qid", "qtext")
    @volatile var recoveredInWindow = true
    @volatile var readerRows = -1L
    @volatile var readerErr: Throwable = null
    graft.sources.StoreMeta.withWriterLock(fs, root, "swap-sim") {
      // the exact state between swapInto's two renames, lease LIVE
      assert(fs.rename(root, old))
      assert(fs.rename(new org.apache.hadoop.fs.Path(other), staged))
      val recoverer = new Thread(() =>
        recoveredInWindow = graft.sources.StoreMeta.recoverCrashedSwap(fs, root))
      recoverer.start(); recoverer.join()
      assert(!recoveredInWindow, "a same-JVM reader completed a live writer's swap")
      assert(fs.exists(staged) && !fs.exists(root)) // untouched by the skip
      val reader = new Thread(() => {
        try readerRows = KeywordSearch.bm25SearchIndexed(
          spark, dir, battery, "qid", "qtext", k = 3).count()
        catch { case t: Throwable => readerErr = t }
      })
      reader.start()
      Thread.sleep(400L) // reader sits in the bounded wait, not an error
      assert(readerErr == null, s"reader failed inside the window: $readerErr")
      // writer completes its swap; the waiting reader proceeds
      assert(fs.rename(staged, root))
      fs.delete(old, true)
      reader.join(60000L)
      assert(readerErr == null, s"reader failed after the swap: $readerErr")
      assert(readerRows == 3L)
    }

    // --- build-path recovery (r16 ADVICE): a rebuild WITHOUT overwrite
    // opening onto a crashed swap must heal it and then refuse on the
    // healed live store — not read the empty root as 'nothing here',
    // delete the staged sibling as stale, and swap away the parked .old
    // (destroying both recoverable copies without the overwrite opt-in)
    val other2 = java.nio.file.Files.createTempDirectory("graft_bm25_r17c").toString
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 30), "text", "doc_id", other2, overwrite = true)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other2), staged))
    val e = intercept[IllegalArgumentException] {
      KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir) // no overwrite
    }
    assert(e.getMessage.contains("already holds an index"), e.getMessage)
    assert(!fs.exists(staged) && !fs.exists(old)) // healed, nothing destroyed
    // the healed root serves the STAGED (30-doc) store — staged meta
    // committed last ⇒ authoritative, exactly the reader-side rule
    val healedMeta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    assert(healedMeta.contains("\"n\": 30"), healedMeta)

    // --- a FIRST build's whole duration is NOT a swap window (r17
    // review): a reader polling a store that does not exist yet must
    // refuse fast — the bounded wait engages only when a swap shape is
    // present (.old parked, or a staged store with committed meta), not
    // merely because a live lease guards a missing root
    val freshRoot = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft_bm25_r17d").toString, "idx")
    graft.sources.StoreMeta.withWriterLock(fs, freshRoot, "first-build-sim") {
      @volatile var waitedMs = -1L
      @volatile var msg: String = null
      val probe = new Thread(() => {
        val t0 = System.nanoTime()
        try KeywordSearch.bm25SearchIndexed(spark, freshRoot.toString,
          battery, "qid", "qtext", k = 3).count()
        catch { case e: Throwable => msg = e.getMessage }
        waitedMs = (System.nanoTime() - t0) / 1000000L
      })
      probe.start(); probe.join(30000L)
      assert(msg != null && msg.contains("not a bm25 index"), msg)
      assert(waitedMs >= 0 && waitedMs < 1500,
        s"reader burned the swap-window budget on a first build: $waitedMs ms")
    }
  }

  test("bounded-wait lease acquisition: acquires after release, refuses past budget (r18)") {
    // the writer-side twin of awaitSwapWindow: queued maintenance jobs
    // (nightly append racing a compact) could only hand-roll retry around
    // the instant refusal through r17. waitMs polls acquisition with
    // backoff until the budget runs out; the default stays instant
    // refusal and the single-holder invariant is untouched.
    val base = java.nio.file.Files.createTempDirectory("graft_lease_wait").toString
    val root = new org.apache.hadoop.fs.Path(base + "/store")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val holderHolds = new java.util.concurrent.CountDownLatch(1)
    val holderRelease = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.sources.StoreMeta.withWriterLock(fs, root, "holder") {
        holderHolds.countDown()
        holderRelease.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      })
    holder.start()
    assert(holderHolds.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // a short budget refuses once it is spent, with the unchanged message
    val e = intercept[IllegalStateException] {
      graft.sources.StoreMeta.withWriterLock(fs, root, "impatient",
        waitMs = 150L) { fail("acquired a held lease") }
    }
    assert(e.getMessage.contains("single-writer"), e.getMessage)
    // ...and the default (no budget) still refuses instantly
    val t0 = System.nanoTime
    intercept[IllegalStateException] {
      graft.sources.StoreMeta.withWriterLock(fs, root, "instant") { () }
    }
    assert((System.nanoTime - t0) / 1000000L < 1000L)
    // a budgeted acquirer gets the lease once the holder releases
    @volatile var patientRan = false
    val patient = new Thread(() =>
      graft.sources.StoreMeta.withWriterLock(fs, root, "patient",
        waitMs = 20000L) { patientRan = true })
    patient.start()
    Thread.sleep(200L)
    assert(!patientRan, "budgeted acquirer broke a LIVE lease")
    holderRelease.countDown()
    patient.join(30000L); holder.join(30000L)
    assert(patientRan, "budgeted acquirer never got the released lease")
    // the race harness under budgets: every racer eventually wins,
    // serially — never two holders at once
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val racers = (1 to 6).map { _ =>
      new Thread(() =>
        graft.sources.StoreMeta.withWriterLock(fs, root, "race",
          waitMs = 60000L) {
          val a = active.incrementAndGet()
          maxActive.updateAndGet(m => math.max(m, a))
          Thread.sleep(30L)
          active.decrementAndGet()
          wins.incrementAndGet(); ()
        })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(wins.get == 6, s"only ${wins.get}/6 budgeted racers acquired")
    assert(maxActive.get == 1, s"${maxActive.get} writers held the lease at once")
    assert(!fs.exists(graft.sources.StoreMeta.lockPath(root)))
  }

  test("reader heals a swap whose writer died mid-wait, in the same open (r18)") {
    // the r17 ADVICE residual: a reader inside awaitSwapWindow's bounded
    // wait exits via leaseIsStale when the live writer CRASHES mid-swap —
    // at that moment the store is fully recoverable (complete staged
    // sibling + stale lease), but through r17 the caller's exists-require
    // fired a transient 'not a bm25 index' that only the NEXT open would
    // have healed. The wait now runs recoverCrashedSwap once on exit, so
    // the SAME open heals and serves the staged store.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_bm25_r18").toString
    val dir = base + "/idx"
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 40), "text", "doc_id", dir, overwrite = true)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    val other = java.nio.file.Files.createTempDirectory("graft_bm25_r18o").toString + "/o"
    KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") < 30), "text", "doc_id", other, overwrite = true)
    // the exact state between swapInto's two renames...
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other), staged))
    // ...leased by a writer that is a LIVE same-host process (a real
    // child process, so the pid oracle sees it alive until we kill it)
    val proc = new ProcessBuilder("sleep", "30").start()
    val lock = graft.sources.StoreMeta.lockPath(root)
    val lease = s"""{"pid": ${proc.pid}, """ +
      s""""host": "${java.net.InetAddress.getLocalHost.getHostName}", """ +
      s""""op": "swap-sim", "epoch_ms": ${System.currentTimeMillis}}"""
    val o = fs.create(lock, true)
    try o.write(lease.getBytes("UTF-8")) finally o.close()
    val battery = Seq(("q1", "spark hash join")).toDF("qid", "qtext")
    @volatile var rows = -1L
    @volatile var err: Throwable = null
    val reader = new Thread(() => {
      try rows = KeywordSearch.bm25SearchIndexed(
        spark, dir, battery, "qid", "qtext", k = 3).count()
      catch { case t: Throwable => err = t }
    })
    try {
      reader.start()
      Thread.sleep(300L) // reader sits in the bounded wait (live lease + swap shape)
      assert(err == null, s"reader failed while the writer was alive: $err")
      proc.destroyForcibly(); proc.waitFor() // the writer dies mid-swap
      reader.join(60000L)
      assert(err == null, s"reader failed instead of healing the dead writer's swap: $err")
      assert(rows >= 1L)
      // healed: staged store live at the root, recovery litter gone
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, "meta.json")))
      assert(!fs.exists(staged) && !fs.exists(old))
      val healedMeta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
      assert(healedMeta.contains("\"docs\": 30") || healedMeta.contains("\"n\": 30"),
        healedMeta)
    } finally { proc.destroyForcibly(); () }
  }

  test("phrase scorer: frozen model scores bit-identically to the indexed search (r15)") {
    // the streaming-shaped phrase plane: tf from the doc's OWN tokens
    // (PhraseKernel loop) + df/N/avgdl frozen from the positional store
    // must reproduce bm25PhraseTopK's scored surface exactly — same
    // adjacency semantics, same StrictMath idf, same float expression
    // shapes; a divergence in any of them breaks the score BITS
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_psc").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"),
      ("pz", "zzznope zzznope"))
    val model = KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases)
    assert(model.idf.length == 3 && model.idf.forall(x => !x.isNaN && x > 0))
    // scorer: (query_id, doc_id, score, dl, tf)
    val scored = KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3),
        r.getLong(4))).toSet
    assert(scored.nonEmpty)
    assert(!scored.exists(_._1 == "pz")) // zero-match phrase emits nothing
    // indexed search with k beyond every match count = the full scored
    // surface; columns (query_id, rank, doc_id, score, dl, tf)
    val topk = KeywordSearch.bm25PhraseTopK(spark, dir, phrases.take(2), k = 1000000)
      .collect().map(r => (r.getString(0), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    assert(scored == topk) // score BITS included
    // a non-positional store refuses model derivation loudly
    val flat = java.nio.file.Files.createTempDirectory("graft_bm25_pscflat").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", flat, overwrite = true)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseModelFromIndex(spark, flat, phrases)
    }.getMessage.contains("without the positions plane"))
  }

  test("battery-as-data phrase retrieval: bit-identical to the per-phrase form, exact and NEAR (r17)") {
    // the per-phrase form plans one positions-scan branch per phrase; the
    // batch form keeps the battery as DATA — one fixed plan. Semantics
    // must agree to the score BITS on the same battery, at slop = 0 and
    // slop > 0, including repeated-term phrases and zero-match probes.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_pbatch").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"),
      ("p3", "the the"), ("pz", "zzznope zzznope"), ("p4", "query"))
    import spark.implicits._
    val battery = phrases.toDF("qid", "qtext")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    for (slop <- Seq(0, 2)) {
      val perPhrase = key(KeywordSearch.bm25PhraseTopK(spark, dir, phrases,
        k = 25, slop = slop))
      val asData = key(KeywordSearch.bm25PhraseBatch(spark, dir, battery,
        "qid", "qtext", k = 25, slop = slop))
      assert(perPhrase.nonEmpty && asData == perPhrase, s"slop=$slop")
    }
    // battery-as-data conventions: a zero-token probe ranks nothing
    // instead of refusing the sweep (the bm25Batch rule)
    val withBlank = (phrases :+ ("pe", "   ")).toDF("qid", "qtext")
    val out = KeywordSearch.bm25PhraseBatch(spark, dir, withBlank, "qid", "qtext", k = 5)
    assert(out.filter(col("query_id") === "pe").count() == 0L)
    assert(out.filter(col("query_id") === "p1").count() > 0L)
    // a big battery forces the semi-join vocabulary branch and agrees
    // with the pushed-IN branch on the shared probes: build 1,200
    // distinct-term two-word probes around the real ones
    val big = (phrases ++ (0 until 1200).map(i => (s"x$i", s"zz${i}a zz${i}b")))
      .toDF("qid", "qtext")
    val bigOut = key(KeywordSearch.bm25PhraseBatch(spark, dir, big,
      "qid", "qtext", k = 25))
    val smallOut = key(KeywordSearch.bm25PhraseBatch(spark, dir, battery,
      "qid", "qtext", k = 25))
    assert(bigOut == smallOut) // the x* probes match nothing; scores agree bit-for-bit
    // non-positional store refuses loudly
    val flat = java.nio.file.Files.createTempDirectory("graft_bm25_pbflat").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", flat, overwrite = true)
    assert(intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseBatch(spark, flat, battery, "qid", "qtext")
    }.getMessage.contains("without the positions plane"))
  }

  test("battery-as-data phrase scorer: bit-identical to the per-phrase scorer (r17)") {
    // bm25PhraseScore refuses an empty phrase and otherwise runs the
    // bm25PhraseScoreBatch body (the whole battery inside ONE
    // PhraseCountBatch expression): the rows must be bit-identical — at
    // slop 0 and 2, with repeated-term phrases, zero-match probes, and
    // null-text docs in the corpus.
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // scored frame ≠ indexed frame (the stream case): includes a
    // null-text doc and a repeated-phrase doc the store never saw
    val docs = corpus.unionByName(
      Seq((900001L, null: String), (900002L, "hash join hash join"))
        .toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_psb").toString
    KeywordSearch.bm25IndexBuild(corpus, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val phrases = Seq(("p1", "hash join"), ("p2", "table scan"),
      ("p3", "the the"), ("pz", "zzznope zzznope"), ("p4", "query"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3),
        r.getLong(4))).toSet
    for (slop <- Seq(0, 2)) {
      val model = KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases,
        slop = slop)
      val perPhrase = key(KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model))
      val asData = key(KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model))
      assert(perPhrase.nonEmpty && asData == perPhrase, s"slop=$slop")
      assert(perPhrase.exists(_._1 == "p3")) // repeated-term phrase matched
    }
    // blank probe: bm25PhraseScore refuses an empty phrase, naming it;
    // the batch form scores it as nothing (a sweep must not abort on one
    // blank probe) and leaves every other probe untouched
    val model0 = KeywordSearch.bm25PhraseModelFromIndex(spark, dir, phrases)
    val blanked = model0.copy(
      phrases = model0.phrases :+ ("pe" -> Seq.empty[String]),
      idf = model0.idf :+ 0.0)
    val refused = intercept[IllegalArgumentException] {
      KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", blanked)
    }
    assert(refused.getMessage.contains("phrase 'pe' has no tokens"), refused.getMessage)
    // the per-phrase scorer's schema, nullability included (query_id, dl
    // and tf non-null; doc_id and score follow the input's nullability)
    assert(KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model0).schema
      .map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
        ("query_id", "string", false), ("doc_id", "bigint", true),
        ("score", "double", true), ("dl", "bigint", false), ("tf", "bigint", false)))
    val outB = key(KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", blanked))
    assert(!outB.exists(_._1 == "pe"))
    assert(outB == key(KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model0)))
  }

  test("index stats: corpus truth + maintenance gauges through the lifecycle (r17)") {
    // the inspection op completing the store lifecycle: corpus-derived
    // numbers must equal a direct tokenization of the live docs at every
    // lifecycle step (build → append → delete → compact), and the
    // maintenance gauges must track batches / tombstone backlog exactly
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val first = all.filter(col("doc_id") < 200)
    val extra = all.filter(col("doc_id") >= 200 && col("doc_id") < 260)
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_stats").toString
    // ground truth from a direct tokenization of a doc frame
    def truth(docs: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val toks = coalesce(Dedup.tokens(col("text")), array().cast("array<string>"))
      val t = docs.select(col("doc_id"), explode(toks).as("term"))
        .agg(countDistinct(col("term")), countDistinct(col("term"), col("doc_id")))
        .head()
      val d = docs.select(size(toks).cast("long").as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).head()
      (d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1),
        t.getLong(0), t.getLong(1))
    }
    def stats(): org.apache.spark.sql.Row =
      KeywordSearch.bm25IndexStats(spark, dir).head()
    def corpusSlice(r: org.apache.spark.sql.Row): (Long, Long, Long, Long) =
      (r.getAs[Long]("docs"), r.getAs[Long]("sumdl"),
        r.getAs[Long]("terms"), r.getAs[Long]("postings"))
    def gauges(r: org.apache.spark.sql.Row): (Int, Int, Long, Boolean) =
      (r.getAs[Int]("batches"), r.getAs[Int]("tomb_batches"),
        r.getAs[Long]("tomb_rows"), r.getAs[Boolean]("positions"))

    KeywordSearch.bm25IndexBuild(first, "text", "doc_id", dir, overwrite = true)
    val s0 = stats()
    assert(corpusSlice(s0) == truth(first))
    assert(gauges(s0) == ((1, 0, 0L, false)))
    assert(s0.getAs[Double]("avgdl") ==
      s0.getAs[Long]("sumdl").toDouble / s0.getAs[Long]("docs").toDouble)

    KeywordSearch.bm25IndexAppend(spark, dir, extra, "text", "doc_id")
    val s1 = stats()
    assert(corpusSlice(s1) == truth(first.unionByName(extra)))
    assert(gauges(s1) == ((2, 0, 0L, false)))

    val dropped = extra.filter(col("doc_id") % 2 === 0)
    val kept = first.unionByName(extra.filter(col("doc_id") % 2 === 1))
    val nDropped = dropped.count()
    KeywordSearch.bm25IndexDelete(spark, dir, dropped.select("doc_id"), "doc_id")
    val s2 = stats()
    assert(corpusSlice(s2) == truth(kept)) // live view: tombstones invisible
    assert(gauges(s2) == ((2, 1, nDropped, false)))

    val dst = java.nio.file.Files.createTempDirectory("graft_bm25_statsc").toString
    KeywordSearch.bm25IndexCompact(spark, dir, dst, overwrite = true)
    val sc = KeywordSearch.bm25IndexStats(spark, dst).head()
    assert(corpusSlice(sc) == truth(kept))
    assert(gauges(sc) == ((1, 0, 0L, false))) // backlog ledger reset

    // the positions capability flag surfaces
    val posDir = java.nio.file.Files.createTempDirectory("graft_bm25_statsp").toString
    KeywordSearch.bm25IndexBuild(first, "text", "doc_id", posDir,
      overwrite = true, positions = true)
    assert(KeywordSearch.bm25IndexStats(spark, posDir)
      .head().getAs[Boolean]("positions"))

    // a fully-deleted store still REPORTS (stats is the op you reach for
    // to see what happened): zero everywhere, avgdl NULL — never NaN
    KeywordSearch.bm25IndexDelete(spark, dst, kept.select("doc_id"), "doc_id")
    val se = KeywordSearch.bm25IndexStats(spark, dst).head()
    assert(corpusSlice(se) == ((0L, 0L, 0L, 0L)))
    assert(se.isNullAt(se.fieldIndex("avgdl")))
  }
}

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pq encode: codes in range, identical vectors share codes, dim mismatch refuses") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = graft.operators.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 8, nCentroids = 16, kmeansIters = 2)
    assert(books.length == 8 && books.forall(b => b.nonEmpty && b.head.length == 8))
    import org.apache.spark.sql.GraftColumnBridge
    val codes = GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(col("embedding")), books))
    val out = emb.select(col("vec_id"), codes.as("c")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(out.forall(_._2.length == 8))
    out.foreach { case (_, cs) => cs.zipWithIndex.foreach { case (c, m) =>
      assert(c >= 0 && c < books(m).length) } }
    // same bytes → same codes (encode is a pure function)
    val dup = emb.limit(1).select(codes.as("c")).head().getSeq[Int](0)
    val dup2 = emb.limit(1).select(codes.as("c")).head().getSeq[Int](0)
    assert(dup == dup2)
    // a wrong-dim vector refuses loudly, never truncates
    val bad = Seq((1L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      bad.select(GraftColumnBridge.column(graft.functions.PqEncode(
        GraftColumnBridge.expression(col("embedding")), books))).collect()
    }
    assert(ex.getMessage != null)
  }

  test("pq adc: table-lookup sum approximates the true dot product") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).cache()
    val books = graft.operators.Similarity.pqCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 8, nCentroids = 16)
    val qv = emb.orderBy("vec_id").limit(1)
      .select("embedding").head().getSeq[Float](0).toArray
    val table = {
      var off = 0
      books.map { book =>
        val sd = book.head.length
        val t = book.map { cent =>
          var s = 0.0; var i = 0
          while (i < sd) { s += qv(off + i).toDouble * cent(i).toDouble; i += 1 }
          s
        }
        off += sd
        t
      }
    }
    import org.apache.spark.sql.GraftColumnBridge
    val codes = GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(col("embedding")), books))
    val adc = GraftColumnBridge.column(graft.functions.PqAdcDot(
      GraftColumnBridge.expression(col("c")), table))
    val qvLit = typedLit(qv.toSeq)
    val rows = emb.select(col("vec_id"), codes.as("c"), col("embedding"))
      .select(adc.as("approx"),
        graft.operators.Similarity.dot(col("embedding"), qvLit).as("exact"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    // quantization error is bounded: mean |approx - exact| well under the
    // typical dot magnitude (loose sanity bound — recall is the real gate)
    val mae = rows.map { case (a, e) => math.abs(a - e) }.sum / rows.length
    val scale = rows.map { case (_, e) => math.abs(e) }.max
    assert(mae < scale, s"mae=$mae scale=$scale")
    emb.unpersist()
  }

  test("pqTopK: self-query ranks itself first with exact cosine 1") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7)
    val out = graft.operators.Similarity.pqTopK(
        emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .orderBy("rank").collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("neighbor_id") == 7L)
    assert(math.abs(out.head.getAs[Double]("cosine") - 1.0) < 1e-12)
    // ranks dense, cosines non-increasing (exact re-rank)
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
    val cs = out.map(_.getAs[Double]("cosine"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }
}
