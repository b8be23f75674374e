package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Similarity}

/** Persisted IVF-PQ index store: build / append / search semantics,
  * bit-identity with the in-flight [[Similarity.pqTopK]], batch
  * immutability across appends, and the loud-refusal edges. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_annidx_$tag").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Seq[(Any, Int, Any, Double)] =
    df.select("query_id", "rank", "neighbor_id", "cosine").collect().toSeq
      .map(r => (r.get(0), r.getInt(1), r.get(2), r.getDouble(3)))
      .sortBy(t => (t._1.toString, t._2))

  test("indexed search is bit-identical to the in-flight pqTopK") {
    val dir = freshDir("eq")
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2)
    // a 3-query and a 40-query battery: pqTopK builds each query's probe
    // order and ADC table on the driver, the store search keeps the
    // battery as data — the rows must agree to the last bit either way
    for (nq <- Seq(3, 40)) {
      val q = emb.filter(col("vec_id") < nq)
      val idx = AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
        k = 10, nProbe = 8, refine = 4)
      val fly = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      val a = collectTopK(idx)
      val b = collectTopK(fly)
      assert(a.size == 10 * nq && a == b, s"$nq queries") // cosine compared as exact doubles
    }
  }

  test("append encodes identically to a one-shot build under the same training sample") {
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd  = emb.filter(col("vec_id") % 2 === 1)
    val dirA = freshDir("app")
    val dirB = freshDir("one")
    AnnIndex.annIndexBuild(even, "vec_id", "embedding", dirA,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    AnnIndex.annIndexAppend(spark, dirA, odd, "vec_id", "embedding")
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dirB,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, train = Some(even))
    val q = emb.filter(col("vec_id") < 4)
    val a = collectTopK(AnnIndex.annSearchIndexed(spark, dirA, q, "vec_id", "embedding",
      k = 10, nProbe = 4, refine = 4))
    val b = collectTopK(AnnIndex.annSearchIndexed(spark, dirB, q, "vec_id", "embedding",
      k = 10, nProbe = 4, refine = 4))
    assert(a.size == 40 && a == b)
    // an appended (odd) vector used as its own query self-hits at rank 1
    val self = a.filter { case (qid, rank, _, _) => qid == 1L && rank == 1 }
    assert(self.size == 1 && self.head._3 == 1L && self.head._4 > 0.999999)
  }

  test("append leaves batch-0 files byte-identical and only moves meta last") {
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd  = emb.filter(col("vec_id") % 2 === 1)
    val dir = freshDir("imm")
    AnnIndex.annIndexBuild(even, "vec_id", "embedding", dir,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    def b0Files: Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(dir, "vectors", "b0")
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      val walk = java.nio.file.Files.walk(root)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(root.relativize(p).toString) =
            (java.nio.file.Files.size(p),
             java.nio.file.Files.getLastModifiedTime(p).toMillis)
      } finally walk.close()
      out.toMap
    }
    val before = b0Files
    AnnIndex.annIndexAppend(spark, dir, odd, "vec_id", "embedding")
    assert(b0Files == before) // same names, sizes, mtimes — never rewritten
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    assert(meta.contains("\"batches\": 2"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "vectors", "b1")))
  }

  test("compaction: single batch, verbatim model, identical row set and search") {
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd  = emb.filter(col("vec_id") % 2 === 1)
    val src = freshDir("csrc")
    val dst = freshDir("cdst")
    AnnIndex.annIndexBuild(even, "vec_id", "embedding", src,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    AnnIndex.annIndexAppend(spark, src, odd, "vec_id", "embedding")
    AnnIndex.annIndexCompact(spark, src, dst)
    // model bytes copy verbatim — the frozen-model contract survives
    def bytes(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    assert(java.util.Arrays.equals(bytes(s"$src/model.json"), bytes(s"$dst/model.json")))
    // one batch dir, same encoded multiset (id, cell, codes, vnorm, vec)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "vectors", "b0")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst, "vectors", "b1")))
    val srcRows = spark.read.parquet(s"$src/vectors/b0")
      .unionByName(spark.read.parquet(s"$src/vectors/b1"))
      .select("id", "cell", "codes", "vnorm", "vec")
      .collect().map(_.toString).sorted.toSeq
    val dstRows = spark.read.parquet(s"$dst/vectors/b0")
      .select("id", "cell", "codes", "vnorm", "vec")
      .collect().map(_.toString).sorted.toSeq
    assert(srcRows == dstRows)
    // search is bit-identical across the compaction
    val q = emb.filter(col("vec_id") < 4)
    val a = collectTopK(AnnIndex.annSearchIndexed(spark, src, q, "vec_id", "embedding",
      k = 10, nProbe = 4, refine = 4))
    val b = collectTopK(AnnIndex.annSearchIndexed(spark, dst, q, "vec_id", "embedding",
      k = 10, nProbe = 4, refine = 4))
    assert(a == b)
    // destination refusal without overwrite
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annIndexCompact(spark, src, dst)
    }
    assert(e.getMessage.contains("already holds an index"))
  }

  test("refuses duplicate ids, wrong dims, empty deltas, and id clashes with the store") {
    val dir = freshDir("ref")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 100), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val dup = emb.filter(col("vec_id") === 200)
      .union(emb.filter(col("vec_id") === 200))
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.annIndexAppend(spark, dir, dup, "vec_id", "embedding")
    }
    assert(e1.getMessage.contains("duplicate ids"))
    val wrongDim = emb.filter(col("vec_id") === 201)
      .withColumn("embedding", slice(col("embedding"), 1, 32))
    // wrong dims refuse in-kernel DURING the write (PqEncode), before
    // meta moves — the failure surfaces wrapped in Spark's task exception
    val e2 = intercept[Exception] {
      AnnIndex.annIndexAppend(spark, dir, wrongDim, "vec_id", "embedding")
    }
    val e2Msg = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(e2Msg.contains("does not match codebook dim"), e2Msg.take(300))
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.annIndexAppend(spark, dir, emb.filter(col("vec_id") < 0),
        "vec_id", "embedding")
    }
    assert(e3.getMessage.contains("nothing would grow"))
    val e4 = intercept[IllegalArgumentException] {
      AnnIndex.annIndexAppend(spark, dir, emb.filter(col("vec_id") === 50),
        "vec_id", "embedding")
    }
    assert(e4.getMessage.contains("re-uses ids"))
  }

  test("poisoned rebuild leaves the old index byte-intact and searchable (r15)") {
    // r15 staged-rebuild posture: overwrite = true builds the whole new
    // store into a hidden sibling and swaps only after the staged meta
    // commits — so an encode-time failure (here: duplicate corpus ids,
    // refused by the batch write's read-back validation) must leave the
    // live store untouched, not deleted (the r14 delete-then-write window)
    val dir = freshDir("poison")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 100), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    def storeFiles = StoreTestUtil.fileSnapshot(dir)
    val before = storeFiles
    val dup = emb.filter(col("vec_id") < 50)
      .unionByName(emb.filter(col("vec_id") < 50))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annIndexBuild(dup, "vec_id", "embedding", dir,
        nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1, overwrite = true)
    }
    assert(e.getMessage.contains("duplicate ids"))
    assert(storeFiles == before) // same names, sizes, mtimes — untouched
    val q = emb.filter(col("vec_id") < 2)
    assert(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = 5, nProbe = 4, refine = 4).count() == 10L)
    // a subsequent good rebuild clobbers the stale staged dir and swaps in
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 80), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1, overwrite = true)
    assert(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = 5, nProbe = 4, refine = 4).count() == 10L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir).getParent.resolve(
        "." + java.nio.file.Paths.get(dir).getFileName.toString + ".rebuild")))
  }

  test("delete: search equals a rebuild of the survivors under the same model; compact reclaims (r15)") {
    val dirA = freshDir("delA")
    val dirB = freshDir("delB")
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd  = emb.filter(col("vec_id") % 2 === 1)
    // store A: full corpus, then DELETE the odd half; store B: the
    // surviving even half built under the SAME training input (the full
    // corpus) — frozen-model semantics make the two bit-identical
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dirA,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    AnnIndex.annIndexDelete(spark, dirA, odd.select("vec_id"), "vec_id")
    AnnIndex.annIndexBuild(even, "vec_id", "embedding", dirB,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, train = Some(emb))
    val q = emb.filter(col("vec_id") < 4) // ids 1, 3 are deleted vectors
    def top(dir: String) = collectTopK(AnnIndex.annSearchIndexed(
      spark, dir, q, "vec_id", "embedding", k = 10, nProbe = 4, refine = 4))
    val a = top(dirA)
    assert(a == top(dirB)) // bit-identical, cosine doubles included
    assert(!a.exists { case (_, _, n, _) => n.asInstanceOf[Long] % 2 == 1 })
    // refusals: absent, already deleted, duplicates, empty
    import spark.implicits._
    def del(ids: Seq[Long]) = AnnIndex.annIndexDelete(
      spark, dirA, ids.toDF("vec_id"), "vec_id")
    assert(intercept[IllegalArgumentException] { del(Seq(999999999L)) }
      .getMessage.contains("not live"))
    assert(intercept[IllegalArgumentException] { del(Seq(1L)) }
      .getMessage.contains("not live")) // odd → already deleted
    assert(intercept[IllegalArgumentException] { del(Seq(0L, 0L)) }
      .getMessage.contains("duplicates"))
    assert(intercept[IllegalArgumentException] { del(Seq.empty[Long]) }
      .getMessage.contains("empty id set"))
    // append refuses a deleted id until a compact reclaims it
    assert(intercept[IllegalArgumentException] {
      AnnIndex.annIndexAppend(spark, dirA, odd.filter(col("vec_id") === 1),
        "vec_id", "embedding")
    }.getMessage.contains("deleted"))
    val dirC = freshDir("delC")
    AnnIndex.annIndexCompact(spark, dirA, dirC)
    assert(top(dirC) == a)
    assert(spark.read.parquet(s"$dirC/vectors/b0")
      .filter(col("id") % 2 === 1).count() == 0L) // physically dropped
    val metaC = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirC, "meta.json")), "UTF-8")
    assert(metaC.contains("\"tombBatches\": 0"))
    AnnIndex.annIndexAppend(spark, dirC, odd.filter(col("vec_id") === 1),
      "vec_id", "embedding") // id reclaimed
    assert(collectTopK(AnnIndex.annSearchIndexed(spark, dirC,
      emb.filter(col("vec_id") === 1), "vec_id", "embedding",
      k = 1, nProbe = 8, refine = 4)).exists {
        case (_, _, n, c) => n.asInstanceOf[Long] == 1L && c > 0.999999 })
  }

  test("build refuses a non-empty non-store dir without overwrite (r15)") {
    // the swap deletes the root, so silently clobbering a dir that holds
    // someone else's bytes needs the explicit overwrite opt-in; an EMPTY
    // placeholder dir (the createTempDirectory pattern) replaces silently
    val dir = java.nio.file.Files.createTempDirectory("graft_annidx_nonstore")
    java.nio.file.Files.writeString(dir.resolve("precious.txt"), "bytes")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
        dir.toString, nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    }
    assert(e.getMessage.contains("is not an ann index"))
    assert(java.nio.file.Files.exists(dir.resolve("precious.txt")))
    val empty = java.nio.file.Files.createTempDirectory("graft_annidx_emptydir")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
      empty.toString, nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    assert(java.nio.file.Files.exists(empty.resolve("meta.json")))
    // ...and COMPACT refuses a non-empty non-store destination too (it
    // would write store planes among the user's bytes, arming a later
    // overwrite to delete them)
    assert(intercept[IllegalArgumentException] {
      AnnIndex.annIndexCompact(spark, empty.toString, dir.toString)
    }.getMessage.contains("is not an ann index"))
    assert(java.nio.file.Files.exists(dir.resolve("precious.txt")))
  }

  test("filtered-search refill: starved queries widen probes to k; filled queries untouched (r17)") {
    // the r16 residual: the predicate applies pre-rank but probing still
    // visits only the nProbe cells nearest the query — a selective
    // predicate whose survivors cluster in unprobed cells runs the short
    // list dry below k, silently. refill = true re-probes starved queries
    // with doubled probe counts up to the full cell span, where the
    // candidate set IS every survivor.
    val dir = freshDir("refill")
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2)
    val q = emb.filter(col("vec_id") === 7)
    val k = 5
    // ~1/97 selectivity: survivors live in a handful of cells, so a
    // 1-probe search starves; survivor count stays under k·refine = 20,
    // so the full-span refill result must equal EXACT brute force
    val pred = Some(col("id") % 97 === 0)
    val survivors = emb.filter(col("vec_id") % 97 === 0)
    val nSurv = survivors.count()
    assert(nSurv >= k && nSurv <= k * 4L, s"fixture drifted: $nSurv survivors")
    val dry = AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = k, nProbe = 1, refine = 4, predicate = pred)
    assert(dry.count() < k, "pre-condition lost: the 1-probe search did not starve")
    val filled = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = k, nProbe = 1, refine = 4, predicate = pred, refill = true))
    assert(filled.size == k)
    // exact brute force over the survivors, same (cosine desc, id asc) tie rule
    import graft.functions.VectorFunctions.vec_cosine
    val qv = q.select(col("embedding")).head().getSeq[Float](0)
    val brute = survivors
      .select(col("vec_id").as("neighbor_id"),
        vec_cosine(col("embedding"), typedLit(qv)).as("cosine"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc).limit(k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(filled.map(t => (t._3.asInstanceOf[Long], t._4)).toSeq == brute.toSeq)
    // a query that genuinely has fewer than k survivors fills to ALL of
    // them and stops at the cell span (honest short result, never a loop)
    val tiny = Some(col("id") % 499 === 0)
    val nTiny = emb.filter(col("vec_id") % 499 === 0).count()
    assert(nTiny < k)
    assert(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = k, nProbe = 1, refine = 4, predicate = tiny, refill = true)
      .count() == nTiny)
    // widening only fires on STARVED queries: where the plain search
    // already fills, refill returns bit-identical rows
    val unstarved = collectTopK(AnnIndex.annSearchIndexed(
      spark, dir, q, "vec_id", "embedding", k = k, nProbe = 1, refine = 4))
    val unstarvedR = collectTopK(AnnIndex.annSearchIndexed(
      spark, dir, q, "vec_id", "embedding", k = k, nProbe = 1, refine = 4,
      refill = true))
    assert(unstarved.size == k && unstarved == unstarvedR)
    val full = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id",
      "embedding", k = k, nProbe = 16, refine = 4, predicate = pred))
    val fullR = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id",
      "embedding", k = k, nProbe = 16, refine = 4, predicate = pred, refill = true))
    assert(full == fullR)
  }

  test("battery refill: each query equals its first filling plain pass (r18)") {
    // refill widens RELATIONALLY (starved ids by anti-join, next pass a
    // cell-equality join at doubled probes; queries never collect), so
    // over a 10-query battery each query's rows must equal the plain
    // (refill = false) search at the first probe count of the schedule
    // 1, 2, 4, … where that query fills to k — or at the full span.
    val dir = freshDir("batrfl")
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dir,
      nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2)
    val q = emb.filter(col("vec_id") < 10)
    val k = 5
    val pred = Some(col("id") % 97 === 0)
    val nSurv = emb.filter(col("vec_id") % 97 === 0).count()
    assert(nSurv >= k, s"fixture drifted: $nSurv survivors")
    // precondition: at 1 probe the filtered batch search leaves at least
    // one query short of k (survivors cluster away from some query's cell)
    // the plain passes of the doubling schedule, per query
    val passes = Seq(1, 2, 4, 8, 16).map(p => collectTopK(AnnIndex.annSearchIndexed(
      spark, dir, q, "vec_id", "embedding", k = k, nProbe = p, refine = 4,
      predicate = pred)).groupBy(_._1))
    assert(passes.head.size < 10 || passes.head.values.exists(_.size < k),
      "pre-condition lost: no query starved at 1 probe")
    val refilled = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q,
      "vec_id", "embedding", k = k, nProbe = 1, refine = 4,
      predicate = pred, refill = true))
    assert(AnnIndex.lastRefillRounds.get() > 1,
      "the starving battery should have taken widening rounds")
    val qids = q.select("vec_id").collect().map(_.get(0)).toSeq
    val expected = qids.flatMap { qid =>
      val filling = passes.find(_.get(qid).exists(_.size >= k)).getOrElse(passes.last)
      filling.getOrElse(qid, Nil)
    }.sortBy(t => (t._1.toString, t._2))
    assert(refilled.nonEmpty && refilled == expected) // cosines compared as exact doubles
    // every query fills to k (enough survivors exist at full span)
    assert(refilled.groupBy(_._1).forall(_._2.size == k))
    // widening fires ONLY when a query starves: an unstarved battery runs
    // exactly one pass and returns bit-identical rows to refill = false
    val plain = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q,
      "vec_id", "embedding", k = k, nProbe = 8, refine = 4))
    val plainR = collectTopK(AnnIndex.annSearchIndexed(spark, dir, q,
      "vec_id", "embedding", k = k, nProbe = 8, refine = 4, refill = true))
    assert(AnnIndex.lastRefillRounds.get() == 1,
      "an unstarved battery must not take widening rounds")
    assert(plain == plainR)
    // a predicate with fewer than k survivors fills to ALL of them per
    // query and stops at the cell span (honest short result, never a loop)
    val tiny = Some(col("id") % 499 === 0)
    val nTiny = emb.filter(col("vec_id") % 499 === 0).count()
    assert(nTiny < k && nTiny > 0)
    val short = AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = k, nProbe = 1, refine = 4, predicate = tiny, refill = true)
    assert(short.count() == 10L * nTiny)
  }

  test("drift gauge: per-batch model fit, orthogonal batch at the ceiling (r18)") {
    // appends encode under the frozen build-time model; annIndexDrift is
    // the signal for WHEN that model has aged out: per-batch mean/p95
    // cosine distance to the assigned centroid. Batch 0 is the fitted
    // baseline; a same-distribution append must sit near it; a
    // model-orthogonal append (worst-case drift) pins at ~1.0.
    val dir = freshDir("drift")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      dir, nCells = 8, m = 8, nCentroids = 8, kmeansIters = 2,
      train = Some(emb))
    // same-distribution append: the odd half, trained-on via `train`
    AnnIndex.annIndexAppend(spark, dir,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val rootP = new org.apache.hadoop.fs.Path(dir)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (cents, _) = AnnIndex.readModel(fs, fs.makeQualified(rootP), dir)
    val orth = graft.harness.DriftFixture.modelOrthogonal(cents, 10)
    import spark.implicits._
    val delta = orth.toSeq.zipWithIndex
      .map { case (v, j) => (20000000L + j, v) }.toDF("vec_id", "embedding")
    AnnIndex.annIndexAppend(spark, dir, delta, "vec_id", "embedding")
    val rows = AnnIndex.annIndexDrift(spark, dir).orderBy("batch").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val counts = rows.map(_.getLong(1))
    assert(counts(0) + counts(1) == emb.count() && counts(2) == 10L)
    val means = rows.map(_.getDouble(2))
    val p95s = rows.map(_.getDouble(3))
    // the same-distribution batch reads like the baseline...
    assert(math.abs(means(1) - means(0)) < 0.15,
      s"undrifted append read as drifted: ${means(0)} vs ${means(1)}")
    // ...the orthogonal batch pins at the ceiling, ahead of both
    assert(math.abs(means(2) - 1.0) < 1e-3 && math.abs(p95s(2) - 1.0) < 1e-3)
    assert(means(2) > means(0) + 0.15 && means(2) > means(1) + 0.15)
    // distances are bounded by construction
    assert(means.forall(x => x >= 0.0 && x <= 2.0))
    assert(p95s.forall(x => x >= 0.0 && x <= 2.0))
    // a deleted batch's vectors leave the gauge (live view only): delete
    // the orthogonal batch and its row drops out entirely
    AnnIndex.annIndexDelete(spark, dir,
      delta.select("vec_id"), "vec_id")
    val after = AnnIndex.annIndexDrift(spark, dir).orderBy("batch").collect()
    assert(after.map(_.getInt(0)).toSeq == Seq(0, 1))
    // a non-store refuses like every reader
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annIndexDrift(spark, freshDir("driftmiss"))
    }
    assert(e.getMessage.contains("is not an ann index"))
  }

  test("build-path recovery: a rebuild onto a crashed swap heals it first (r17)") {
    // the r16 ADVICE hole: a no-overwrite build opening onto the window
    // between swapInto's two renames saw 'nothing here', deleted the
    // staged sibling as stale, and swapped away the parked .old —
    // destroying BOTH recoverable copies. The build must heal first and
    // then refuse on the healed live store.
    val dir = freshDir("bldrec")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 100), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val other = freshDir("bldrec2")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 40), "vec_id", "embedding", other,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other), staged))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dir,
        nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1) // no overwrite
    }
    assert(e.getMessage.contains("already holds an index"), e.getMessage)
    assert(!fs.exists(staged) && !fs.exists(old)) // healed, nothing destroyed
    // the healed root serves the staged (40-vector) store
    val healedMeta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    assert(healedMeta.contains("\"n\": 40"), healedMeta)
  }

  test("refuses building over an existing store without overwrite, and non-index dirs") {
    val dir = freshDir("ow")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 50), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dir,
        nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    }
    assert(e1.getMessage.contains("already holds an index"))
    val empty = freshDir("none")
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.annSearchIndexed(spark, empty, emb.limit(1), "vec_id", "embedding")
    }
    assert(e2.getMessage.contains("not an ann index"))
  }

  test("refuses an unknown layout version instead of misreading it") {
    val dir = freshDir("ver")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 50), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val metaPath = java.nio.file.Paths.get(dir, "meta.json")
    val meta = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
    java.nio.file.Files.write(metaPath,
      meta.replace("\"version\": 1", "\"version\": 2").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annSearchIndexed(spark, dir, emb.limit(1), "vec_id", "embedding")
    }
    assert(e.getMessage.contains("layout version 2"))
  }

  test("refuses a query whose dim does not match the index") {
    val dir = freshDir("qdim")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 50), "vec_id", "embedding", dir,
      nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    // a well-formed query beside the short one: the refusal names the
    // offending query, whatever its position in the battery
    val q = emb.filter(col("vec_id") === 0).unionByName(emb.filter(col("vec_id") === 1)
      .withColumn("embedding", slice(col("embedding"), 1, 16)))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("query '1' has dim 16"), e.getMessage)
  }

  test("filtered search: pre-rank predicate, refill from survivors, both forms agree (r16)") {
    val dirF = freshDir("filt")
    val dirR = freshDir("filtr")
    // full store vs even-only store under the SAME training input: the
    // frozen models coincide, so a filtered search of the full store must
    // be bit-identical to an unfiltered search of the restricted store —
    // which also proves refill (short-list slots never go to odd ids)
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dirF,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      dirR, nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, train = Some(emb))
    val q = emb.filter(col("vec_id") < 3)
    val pred = Some(col("id") % 2 === 0)
    val filtered = collectTopK(AnnIndex.annSearchIndexed(spark, dirF,
      q, "vec_id", "embedding", k = 10, nProbe = 4, refine = 4, predicate = pred))
    val restricted = collectTopK(AnnIndex.annSearchIndexed(spark, dirR,
      q, "vec_id", "embedding", k = 10, nProbe = 4, refine = 4))
    assert(filtered.size == 30 && filtered == restricted)
    assert(filtered.forall(_._3.asInstanceOf[Long] % 2 == 0))
    // the self-hit proves the filter CHANGED the ranking (query 0 is even:
    // it self-hits; queries 1 — odd — cannot return themselves)
    assert(filtered.exists(t => t._1 == 0L && t._2 == 1 && t._3 == 0L))
    assert(!filtered.exists(t => t._1 == 1L && t._3 == 1L))
    // at the exact calibration point (every cell probed, a short list
    // spanning the corpus) the filtered search is brute force over the
    // allowed vectors, to the last bit
    val exact = collectTopK(AnnIndex.annSearchIndexed(spark, dirF, q, "vec_id", "embedding",
      k = 10, nProbe = 8, refine = (emb.count() / 10L + 1L).toInt, predicate = pred))
    val brute = collectTopK(Similarity.bruteForceTopK(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", q, "vec_id", "embedding", k = 10))
    assert(exact.size == 30 && exact == brute)
  }

  test("writer lease, crashed-swap auto-recovery, tombstone ledger + cap (r16)") {
    import spark.implicits._
    val dir = freshDir("r16")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 100), "vec_id", "embedding",
      dir, nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val q = emb.filter(col("vec_id") < 2)

    // --- writer LEASE (the Bm25IndexSpec twin): held ⇒ every mutation
    // refuses loudly; readers take none; released ⇒ admitted; finished ⇒
    // no lease left behind
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = graft.sources.StoreMeta.lockPath(root)
    fs.create(lock, false).close()
    def appendOne(lo: Int) = AnnIndex.annIndexAppend(spark, dir,
      emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 10),
      "vec_id", "embedding")
    assert(intercept[IllegalStateException] { appendOne(100) }
      .getMessage.contains("holds the lease"))
    assert(intercept[IllegalStateException] {
      AnnIndex.annIndexDelete(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
    }.getMessage.contains("holds the lease"))
    assert(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = 5).count() == 10L)
    fs.delete(lock, false)
    appendOne(100)
    assert(!fs.exists(lock))

    // --- crashed swapInto between its two renames: old store parked at
    // .old, complete rebuilt store staged, no live root — the next open
    // completes the swap and serves the STAGED store (meta'd last =
    // authoritative)
    val other = freshDir("r16other")
    AnnIndex.annIndexBuild(emb.filter(col("vec_id") < 40), "vec_id", "embedding",
      other, nCells = 4, m = 8, nCentroids = 4, kmeansIters = 1)
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(other), staged))
    assert(AnnIndex.annSearchIndexed(spark, dir, q, "vec_id", "embedding",
      k = 5).count() == 10L)
    def meta() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    assert(meta().contains("\"n\": 40"), meta()) // the 40-vector staged store
    assert(!fs.exists(staged) && !fs.exists(old))

    // --- tombstone ledger + broadcast cap (the bm25 conventions)
    AnnIndex.annIndexDelete(spark, dir, Seq(1L, 3L, 5L).toDF("vec_id"), "vec_id")
    assert(meta().contains("\"tombRows\": 3"), meta())
    val dirC = freshDir("r16c")
    AnnIndex.annIndexCompact(spark, dir, dirC)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirC, "meta.json")), "UTF-8")
      .contains("\"tombRows\": 0"))
    val nearCap = meta().replace("\"tombRows\": 3",
      s""""tombRows": ${graft.sources.StoreMeta.TombstoneRowCap - 1}""")
    assert(nearCap != meta())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "meta.json"), nearCap)
    assert(intercept[IllegalArgumentException] {
      AnnIndex.annIndexDelete(spark, dir, Seq(7L, 9L).toDF("vec_id"), "vec_id")
    }.getMessage.contains("broadcast cap"))
  }

  test("index stats: geometry from the model round trip, gauges through the lifecycle (r17)") {
    import spark.implicits._
    val dir = freshDir("stats")
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd  = emb.filter(col("vec_id") % 2 === 1)
    AnnIndex.annIndexBuild(even, "vec_id", "embedding", dir,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    def stats() = AnnIndex.annIndexStats(spark, dir).head()
    val s0 = stats()
    assert(s0.getAs[Long]("vectors") == even.count())
    assert(s0.getAs[Int]("dim") == 64 && s0.getAs[Int]("subspaces") == 8 &&
      s0.getAs[Int]("cells") == 8) // read BACK from model.json, not the call
    assert(s0.getAs[Int]("batches") == 1 && s0.getAs[Int]("tomb_batches") == 0 &&
      s0.getAs[Long]("tomb_rows") == 0L)
    AnnIndex.annIndexAppend(spark, dir, odd, "vec_id", "embedding")
    val s1 = stats()
    assert(s1.getAs[Long]("vectors") == emb.count() &&
      s1.getAs[Int]("batches") == 2)
    AnnIndex.annIndexDelete(spark, dir,
      emb.filter(col("vec_id") < 10).select("vec_id"), "vec_id")
    val s2 = stats()
    assert(s2.getAs[Long]("vectors") == emb.count() - 10 &&
      s2.getAs[Int]("tomb_batches") == 1 && s2.getAs[Long]("tomb_rows") == 10L)
    val dst = freshDir("statsdst")
    AnnIndex.annIndexCompact(spark, dir, dst)
    val sc = AnnIndex.annIndexStats(spark, dst).head()
    assert(sc.getAs[Long]("vectors") == emb.count() - 10 &&
      sc.getAs[Int]("batches") == 1 && sc.getAs[Int]("tomb_batches") == 0 &&
      sc.getAs[Long]("tomb_rows") == 0L)
    // a non-store refuses loudly (the meta reader's standard message)
    assert(intercept[IllegalArgumentException] {
      AnnIndex.annIndexStats(spark, freshDir("nostore") + "/nothing")
    }.getMessage.contains("not an ann index"))
  }
}
