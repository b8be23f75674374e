package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIndex, KeywordSearch}

/** The shared store lifecycle (build, append, delete, compact, stats) run
  * the same way on the BM25 posting index and the IVF-PQ vector index:
  * the Spark jobs each operation runs, the exact meta.json bytes each one
  * commits, how a pre-ledger meta reads, and what a refused compact leaves
  * of an existing destination store. */
class StoreLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lifecycle_$tag").toString + "/store"

  private def metaOf(dir: String): String =
    new String(Files.readAllBytes(Paths.get(dir, "meta.json")), UTF_8)

  private def jobs(body: => Any): Int = JobCensus(spark)(body)._2.jobs

  /** Four tokens per document, so Σdl is 4 × the live count. */
  private def docs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"w${i % 3} common tok$i tok${i % 5}")).toDF("doc_id", "text")

  /** Dim-4 vectors on a small integer lattice. */
  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (0 until 4).map(d => ((i * 7 + d * 3) % 11 + 1).toFloat)))
      .toDF("id", "vec")

  /** One store's lifecycle, as the two index stores share it. */
  private final class Lifecycle(
      val build: String => Unit, val append: String => Unit,
      val delete: (String, Seq[Long]) => Unit, val compact: (String, String, Boolean) => Unit,
      val stats: String => Seq[Row], val search: String => Set[Row])

  private val bm25 = new Lifecycle(
    build = dir => KeywordSearch.bm25IndexBuild(docs(0 until 12), "text", "doc_id", dir,
      positions = true),
    append = dir => KeywordSearch.bm25IndexAppend(spark, dir, docs(12 until 16), "text", "doc_id"),
    delete = (dir, ids) => KeywordSearch.bm25IndexDelete(spark, dir, ids.toDF("doc_id"), "doc_id"),
    compact = (src, dst, overwrite) =>
      KeywordSearch.bm25IndexCompact(spark, src, dst, overwrite = overwrite),
    stats = dir => KeywordSearch.bm25IndexStats(spark, dir).collect().toSeq,
    search = dir => KeywordSearch.bm25SearchIndexed(spark, dir,
      Seq(("q1", "common w1"), ("q2", "tok3 w0")).toDF("qid", "qtext"), "qid", "qtext",
      k = 5).collect().toSet)

  private val ann = new Lifecycle(
    build = dir => AnnIndex.annIndexBuild(vecs(0 until 12), "id", "vec", dir,
      nCells = 2, m = 2, nCentroids = 2, kmeansIters = 1),
    append = dir => AnnIndex.annIndexAppend(spark, dir, vecs(12 until 16), "id", "vec"),
    delete = (dir, ids) => AnnIndex.annIndexDelete(spark, dir, ids.toDF("id"), "id"),
    compact = (src, dst, overwrite) =>
      AnnIndex.annIndexCompact(spark, src, dst, overwrite = overwrite),
    stats = dir => AnnIndex.annIndexStats(spark, dir).collect().toSeq,
    search = dir => AnnIndex.annSearchIndexed(spark, dir,
      vecs(3 until 5).withColumnRenamed("id", "qid"), "qid", "vec",
      k = 3, nProbe = 2, refine = 2).collect().toSet)

  /** Build A, append, delete two ids twice (so the second delete, the
    * compact, the stats and the search read a tombstone plane of one and
    * two batches), compact A into B: the jobs of each step and the
    * meta.json bytes it leaves. The search's jobs include its collect. */
  private def run(store: Lifecycle, tag: String): (Map[String, Int], Map[String, String]) = {
    val (a, b) = (tmp(s"${tag}_a"), tmp(s"${tag}_b"))
    val counts = Seq.newBuilder[(String, Int)]
    val metas = Seq.newBuilder[(String, String)]
    def step(name: String, dir: String)(body: => Any): Unit = {
      counts += name -> jobs(body)
      metas += name -> metaOf(dir)
    }
    step("build", a)(store.build(a))
    step("append", a)(store.append(a))
    step("delete", a)(store.delete(a, Seq(1L, 2L)))
    step("delete2", a)(store.delete(a, Seq(5L, 6L)))
    step("compact", b)(store.compact(a, b, false))
    counts += "stats" -> jobs(store.stats(a))
    counts += "search" -> jobs(store.search(a))
    (counts.result().toMap, metas.result().toMap)
  }

  // measured on `local[4]`: a change here is a change in the stores'
  // Spark traffic or in their on-disk format
  private val bm25Jobs = Map("build" -> 11, "append" -> 15, "delete" -> 6, "delete2" -> 8,
    "compact" -> 35, "stats" -> 6, "search" -> 19)
  private val annJobs = Map("build" -> 8, "append" -> 9, "delete" -> 7, "delete2" -> 9,
    "compact" -> 9, "stats" -> 0, "search" -> 13)

  private val bm25Metas = Map(
    "build" -> """{"format": "graft-bm25-index", "version": 1, "batches": 1, "n": 12, "sumdl": 48, "tombBatches": 0, "tombRows": 0, "positions": true}""",
    "append" -> """{"format": "graft-bm25-index", "version": 1, "batches": 2, "n": 16, "sumdl": 64, "tombBatches": 0, "tombRows": 0, "positions": true}""",
    "delete" -> """{"format": "graft-bm25-index", "version": 1, "batches": 2, "n": 14, "sumdl": 56, "tombBatches": 1, "tombRows": 2, "positions": true}""",
    "delete2" -> """{"format": "graft-bm25-index", "version": 1, "batches": 2, "n": 12, "sumdl": 48, "tombBatches": 2, "tombRows": 4, "positions": true}""",
    "compact" -> """{"format": "graft-bm25-index", "version": 1, "batches": 1, "n": 12, "sumdl": 48, "tombBatches": 0, "tombRows": 0, "positions": true}""")
  private val annMetas = Map(
    "build" -> """{"format": "graft-ann-index", "version": 1, "batches": 1, "n": 12, "dim": 4, "m": 2, "tombBatches": 0, "tombRows": 0}""",
    "append" -> """{"format": "graft-ann-index", "version": 1, "batches": 2, "n": 16, "dim": 4, "m": 2, "tombBatches": 0, "tombRows": 0}""",
    "delete" -> """{"format": "graft-ann-index", "version": 1, "batches": 2, "n": 14, "dim": 4, "m": 2, "tombBatches": 1, "tombRows": 2}""",
    "delete2" -> """{"format": "graft-ann-index", "version": 1, "batches": 2, "n": 12, "dim": 4, "m": 2, "tombBatches": 2, "tombRows": 4}""",
    "compact" -> """{"format": "graft-ann-index", "version": 1, "batches": 1, "n": 12, "dim": 4, "m": 2, "tombBatches": 0, "tombRows": 0}""")

  test("job census: each bm25 store operation runs the pinned number of Spark jobs") {
    val (counts, _) = run(bm25, "bm25_jobs")
    assert(counts == bm25Jobs, counts)
  }

  test("job census: each ann store operation runs the pinned number of Spark jobs") {
    val (counts, _) = run(ann, "ann_jobs")
    assert(counts == annJobs, counts)
  }

  test("meta bytes: build, append, delete and compact commit the pinned bm25 meta.json") {
    val (_, metas) = run(bm25, "bm25_meta")
    assert(metas == bm25Metas, metas)
  }

  test("meta bytes: build, append, delete and compact commit the pinned ann meta.json") {
    val (_, metas) = run(ann, "ann_meta")
    assert(metas == annMetas, metas)
  }

  test("a meta without tombBatches, tombRows or positions opens with them as 0 and false") {
    val (b, a) = (tmp("bm25_legacy"), tmp("ann_legacy"))
    bm25.build(b)
    ann.build(a)
    Files.writeString(Paths.get(b, "meta.json"),
      """{"format": "graft-bm25-index", "version": 1, "batches": 1, "n": 12, "sumdl": 48}""")
    Files.writeString(Paths.get(a, "meta.json"),
      """{"format": "graft-ann-index", "version": 1, "batches": 1, "n": 12, "dim": 4, "m": 2}""")
    val bs = KeywordSearch.bm25IndexStats(spark, b).collect().head
    assert(bs.getAs[Long]("docs") == 12L && bs.getAs[Long]("sumdl") == 48L)
    assert(bs.getAs[Int]("tomb_batches") == 0 && bs.getAs[Long]("tomb_rows") == 0L)
    assert(!bs.getAs[Boolean]("positions"))
    val av = AnnIndex.annIndexStats(spark, a).collect().head
    assert(av.getAs[Long]("vectors") == 12L && av.getAs[Int]("dim") == 4)
    assert(av.getAs[Int]("tomb_batches") == 0 && av.getAs[Long]("tomb_rows") == 0L)
    assert(bm25.search(b).nonEmpty && ann.search(a).nonEmpty)
    // the first delete starts the ledger from those zeros
    bm25.delete(b, Seq(1L, 2L))
    ann.delete(a, Seq(1L, 2L))
    assert(metaOf(b) ==
      """{"format": "graft-bm25-index", "version": 1, "batches": 1, "n": 10, "sumdl": 40, """ +
        """"tombBatches": 1, "tombRows": 2, "positions": false}""")
    assert(metaOf(a) ==
      """{"format": "graft-ann-index", "version": 1, "batches": 1, "n": 10, "dim": 4, """ +
        """"m": 2, "tombBatches": 1, "tombRows": 2}""")
  }

  /** Compact A into B, corrupt A's live count, and compact again over B:
    * the refusal must leave B as it was. */
  private def refusedCompactKeeps(store: Lifecycle, tag: String): Unit = {
    val (a, b) = (tmp(s"${tag}_a"), tmp(s"${tag}_b"))
    store.build(a)
    store.append(a)
    store.compact(a, b, false)
    val before = store.search(b)
    assert(before.nonEmpty)
    val meta = metaOf(a)
    val torn = meta.replaceFirst("\"n\": [0-9]+", "\"n\": 999")
    assert(torn != meta)
    Files.writeString(Paths.get(a, "meta.json"), torn)
    val e = intercept[IllegalArgumentException](store.compact(a, b, true))
    assert(e.getMessage.contains("not committing"), e.getMessage)
    assert(store.search(b) == before)
    assert(store.stats(b).nonEmpty)
  }

  test("a refused bm25 compact leaves the existing destination store searchable") {
    refusedCompactKeeps(bm25, "bm25_refused")
  }

  test("a refused ann compact leaves the existing destination store searchable") {
    refusedCompactKeeps(ann, "ann_refused")
  }
}
