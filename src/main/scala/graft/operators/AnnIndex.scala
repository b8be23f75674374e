package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftColumnBridge

import scala.collection.immutable.ListMap

import graft.sources.StoreMeta

/** Persisted IVF-PQ VECTOR-INDEX store — the maintenance path that makes
  * similarity search affordable over a GROWING corpus, the embedding-plane
  * twin of [[KeywordSearch]]'s BM25 posting index: [[Similarity.pqTopK]]
  * re-trains and re-encodes the whole corpus per battery (right for
  * one-shot searches), while a production deployment indexes once and
  * appends deltas — zero corpus re-scans and zero re-trainings per search.
  *
  * Layout (the engine's store conventions: batch-dir data, metadata LAST):
  *
  *   <dir>/meta.json            {"format":"graft-ann-index","version":1,
  *                               "batches":B,"n":N,"dim":D,"m":M,
  *                               "tombBatches":T,"tombRows":R}
  *   <dir>/model.json           frozen coarse centroids + PQ codebooks,
  *                              floats as raw IEEE-754 bits (bit-exact
  *                              across the JSON round trip — decimal text
  *                              would drift the last ulp and break the
  *                              bit-identical-to-in-flight contract)
  *   <dir>/vectors/b<i>/cell=<c>/part-….parquet
  *                              (id, codes array<int>, vnorm double,
  *                               vec array<float>), hive-partitioned by
  *                              coarse cell
  *   <dir>/tombstones/b<i>/part-….parquet
  *                              (id) — deleted vectors; searches
  *                              anti-join this plane, compaction drops
  *                              the rows physically and resets it
  *
  * Why this layout carries to 100 TB:
  *  - probes PRUNE PARTITIONS: a query touches `nProbe` of `nCells`
  *    `cell=` directories — the scan's PartitionFilters skip the rest of
  *    the store without opening a file (pinned in PlanAuditSpec);
  *  - the candidate scan is COLUMN-PRUNED: ADC scoring reads only
  *    (id, codes, vnorm) — M ints + a double per vector; the raw `vec`
  *    bytes are read only for the `k·refine` short-list re-rank;
  *  - TRAIN ON A SAMPLE: `train` lets the k-means/codebook fit run over a
  *    sample while the full corpus encodes under the fitted model — the
  *    standard IVF-PQ workflow (nobody Lloyd-iterates 100 TB);
  *  - APPEND NEVER RETRAINS: deltas encode under the frozen build-time
  *    model (batch files are immutable; only meta.json moves). That is the
  *    textbook IVF contract — and its caveat: if the delta distribution
  *    drifts far from the training sample, quantization error grows until
  *    a rebuild refreshes the model. The index stores exact norms and
  *    re-ranks with exact cosines, so drift degrades RECALL, never the
  *    correctness of returned scores.
  *
  * Crash/concurrency posture: build, append, delete and compact run the
  * shared store lifecycle ([[graft.sources.StoreMeta.Store]]) — every
  * mutation holds the store's writer lease, a rebuild stages the whole
  * new store in a hidden sibling and swaps it in only after its meta
  * commits, and `meta.json` writes LAST and atomically, so a reader
  * mid-append sees the old consistent snapshot.
  *
  * Search results are BIT-IDENTICAL to [[Similarity.pqTopK]] run with the
  * same parameters over the same corpus (same NearestCells/PqEncode
  * kernels, ADC sums folded in pqTopK's table order, same two-stage
  * deterministic top-k; floats round-trip parquet exactly) — which is
  * what the `ann_index_search` gate pins.
  */
object AnnIndex {

  import graft.functions.VectorFunctions.{nearest_cells, vec_cosine, vec_dot}

  /** Build an index at `dir`: fit the coarse quantizer and PQ codebooks on
    * `train` (default: the corpus itself), then encode the whole corpus
    * under the fitted model as batch 0. Rows with a null vector are
    * dropped (they belong to no cell and can never be returned). */
  def annIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    dir: String, nCells: Int = 16, m: Int = 8,
                    nCentroids: Int = 16, kmeansIters: Int = 2,
                    train: Option[DataFrame] = None,
                    overwrite: Boolean = false): Unit = {
    val index = store(corpus.sparkSession, dir)
    index.build("annIndexBuild", overwrite) { staged =>
      // fused trainer — one seed collect (which is also the dim probe) and
      // one job per Lloyd round; models bit-equal to the unfused pair
      // (FusedTrainSpec)
      val (_, cents, books) = Similarity.trainIvfPq(train.getOrElse(corpus), idCol, vecCol,
        nCells, m, nCentroids, kmeansIters, requireTag = "annIndexBuild")
      val dim = cents.head.length
      writeModel(index.fs, staged, cents, books)
      val n = writeBatch(corpus, idCol, vecCol, staged.toString, batch = 0, dim, cents, books)
      StoreMeta.Meta(batches = 1, n = n, tombBatches = 0, tombRows = 0L,
        ListMap("dim" -> dim.toLong, "m" -> m.toLong))
    }
  }

  /** Append a vector delta: only the DELTA is scanned and encoded (under
    * the frozen build-time model); existing batch files never rewrite. */
  def annIndexAppend(spark: SparkSession, dir: String,
                     delta: DataFrame, idCol: String, vecCol: String,
                     lockWaitMs: Long = 0L): Unit = {
    val index = store(spark, dir)
    index.append("annIndexAppend", delta, idCol, lockWaitMs) { meta =>
      val (cents, books) = checkedModel(index, meta)
      (writeBatch(delta, idCol, vecCol, dir, batch = meta.batches, dimOf(meta), cents, books), 0L)
    }
  }

  /** DELETE vectors from the index — the takedown/dedup-prune maintenance
    * path ([[graft.sources.StoreMeta.Store.delete]]): the search
    * anti-joins the tombstone plane (broadcast — above the scan, so
    * partition pruning and column pruning are untouched), and
    * [[annIndexCompact]] physically drops the rows and resets the plane.
    * The frozen model never moves, so search over the store-with-deletes
    * is BIT-IDENTICAL to a from-scratch rebuild of the surviving vectors
    * trained on the same sample (the gate's pin). */
  def annIndexDelete(spark: SparkSession, dir: String,
                     ids: DataFrame, idCol: String): Unit =
    store(spark, dir).delete("annIndexDelete", ids, idCol)

  /** Search the index: zero corpus scans, zero training. The battery stays
    * DATA — query vectors never reach the driver, and the plan has one
    * shape at any battery size (no per-query branches):
    *
    *  - the battery is read ONCE (`localCheckpoint`), so pruning and
    *    scoring see the same rows of a non-deterministic source;
    *  - one job collects the battery's distinct probed cells (at most the
    *    store's cell count) and refuses an empty battery or a query whose
    *    dim differs from the index — the query's id and dim are all that
    *    reach the driver;
    *  - PRUNING RULE: both store scans filter on `cell IN (probed cells)`,
    *    static PartitionFilters that skip every other `cell=` directory
    *    without opening a file; each query then joins its OWN probed cells
    *    by cell equality;
    *  - ADC scores the column-pruned (id, codes, vnorm) candidates straight
    *    from the plan-riding codebooks ([[graft.functions.PqAdcDirect]]),
    *    and the `k·refine` short list re-ranks with exact cosines.
    *
    * Output columns and the deterministic (cosine desc, neighbor_id asc)
    * tie rule match [[Similarity.pqTopK]], and the rows are BIT-IDENTICAL
    * to it over the same corpus and parameters: the probe rule is the same
    * NearestCells kernel the corpus was assigned with (pqTopK's driver
    * probe order uses its arithmetic and tie rule, NaN cosines ranked
    * last), PqAdcDirect folds each subspace dot exactly as pqTopK's table
    * entries, and both share the two-stage top-k.
    *
    * `predicate` is FILTERED vector search: a Column over the store row
    * (id, cell, codes, vnorm, vec — in practice the id, with metadata
    * reduced to an id predicate or semi-joined upstream) applied PRE-RANK,
    * so the `k·refine` short list draws entirely from survivors and
    * results are exactly the unfiltered search of an index holding only
    * the allowed vectors under the same frozen model. It sits above the
    * scan next to the tombstone anti-join, so the probed-cell
    * PartitionFilters and column pruning are untouched — an id predicate
    * even pushes into the scan itself.
    *
    * `refill` widens probing for starved queries: under a SELECTIVE
    * predicate the survivors may cluster in unprobed cells and a query
    * returns fewer than `k` rows. With `refill = true`, each pass keeps the
    * rows of queries that filled, and the starved ones (an anti-join
    * against the per-query fill counts, so zero-row queries starve too)
    * take the next pass at DOUBLED probes, capped at the store's cell
    * count. At full span the candidate set IS every survivor, so a
    * still-short query genuinely has fewer than `k` allowed vectors. The
    * driver iterates only rounds (≤ log₂(cells)+1); each round's probed-
    * cell collect is also its emptiness check. The default stays `false`,
    * so fixed-parameter results remain bit-reproducible against pqTopK. */
  def annSearchIndexed(spark: SparkSession, dir: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int = 10, nProbe: Int = 8, refine: Int = 4,
                       predicate: Option[Column] = None,
                       refill: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1 && refine >= 1,
      s"annSearchIndexed: k, nProbe, refine must be >= 1 (got $k, $nProbe, $refine)")
    val (index, meta) = open(spark, dir)
    require(meta.n > 0, s"annSearchIndexed: index at '$dir' holds no vectors")
    val (cents, books) = checkedModel(index, meta)
    val dim = dimOf(meta)
    // a deleted vector can be neither a candidate nor a re-rank survivor
    val live = index.live(index.plane("vectors", meta.batches), meta)
    val store = predicate.map(live.filter).getOrElse(live)
    val nCells = cents.length
    val battery = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("__qv"))
      .filter(col("__qv").isNotNull)
      .localCheckpoint(false) // materialized by the first probed-cell collect

    // the distinct cells `q` probes at `probes`, sorted
    def probedCells(q: DataFrame, probes: Int): Seq[Int] = {
      val fits = size(col("__qv")) === dim
      val r = q.select(
          when(!fits, struct(col("query_id").cast("string"), size(col("__qv")))).as("__bad"),
          explode_outer(nearest_cells(when(fits, col("__qv")), cents, probes)).as("cell"))
        .agg(min(col("__bad")), collect_set(col("cell")))
        .head()
      require(r.isNullAt(0), {
        val bad = r.getStruct(0)
        s"annSearchIndexed: query '${bad.get(0)}' has dim ${bad.get(1)}, " +
          s"index at '$dir' holds dim $dim"
      })
      r.getSeq[Int](1).sorted
    }

    val adc = GraftColumnBridge.column(graft.functions.PqAdcDirect(
      GraftColumnBridge.expression(col("codes")),
      GraftColumnBridge.expression(col("__qv")), books))
    def passAt(q: DataFrame, probes: Int, cells: Seq[Int]): DataFrame = {
      val probed = store.filter(col("cell").isin(cells.map(Int.box): _*))
      val qCells = q
        .withColumn("cell", explode(nearest_cells(col("__qv"), cents, probes)))
        // per-QUERY norm, hoisted before the candidate join — recomputing
        // the dim-length dot per (query, candidate) row would double the
        // ADC stage's arithmetic; same expression, bit-identical value
        .withColumn("__qn", sqrt(vec_dot(col("__qv"), col("__qv"))))
      // corpus side is assigned with nProbe = 1, so (query, neighbor)
      // pairs are unique across probed cells
      val scored = qCells.join(probed, "cell")
        .select(col("query_id"), col("id").as("neighbor_id"),
          (adc / (col("__qn") * col("vnorm"))).as("__approx"))
      // short-list the top k·refine by approximate cosine, then re-rank
      // with exact cosines; every short-listed neighbor lies in a probed
      // cell, so the raw vectors come from the pruned scan too
      val shortList = Similarity.twoStageTopK(scored, "query_id",
          col("__approx"), col("neighbor_id"), k * refine, "__ar")
        .select("query_id", "neighbor_id")
      val rescored = shortList
        .join(probed.select(col("id").as("neighbor_id"), col("vec")), "neighbor_id")
        .join(q, "query_id")
        .withColumn("cosine", vec_cosine(col("vec"), col("__qv")))
      Similarity.twoStageTopK(
          rescored.select("query_id", "neighbor_id", "cosine"), "query_id",
          col("cosine"), col("neighbor_id"), k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    }

    var probes = math.min(nProbe, nCells)
    var cells = probedCells(battery, probes)
    require(cells.nonEmpty, "annSearchIndexed: empty query battery")
    if (!refill) return passAt(battery, probes, cells)
    var remaining = battery
    var rounds = 0
    var kept: DataFrame = null
    def keep(rows: DataFrame): Unit = kept = if (kept == null) rows else kept.unionByName(rows)
    while (cells.nonEmpty) {
      rounds += 1
      // ≤ k rows per remaining query; checkpointed because it feeds both
      // the fill counts and the kept/starved split below
      val res = passAt(remaining, probes, cells).localCheckpoint(true)
      if (probes >= nCells) {
        keep(res) // at full span a short query has < k allowed vectors, period
        cells = Nil
      } else {
        val filledIds = res.groupBy("query_id")
          .agg(count(lit(1)).as("__n")).filter(col("__n") >= k)
          .select("query_id")
        val starved = remaining.join(filledIds, Seq("query_id"), "left_anti")
          .localCheckpoint(false)
        probes = math.min(probes * 2, nCells)
        cells = probedCells(starved, probes)
        keep(if (cells.isEmpty) res
          else res.join(starved.select("query_id"), Seq("query_id"), "left_anti"))
        remaining = starved
      }
    }
    lastRefillRounds.set(rounds)
    kept
  }

  /** Rounds the last `refill = true` [[annSearchIndexed]] executed on THIS
    * thread — spec instrumentation only (the widening-fires-only-on-
    * starved-queries pin); production code never reads it. */
  private[graft] val lastRefillRounds: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** Compact a many-batch store into a fresh single-batch store at
    * `dstDir` — the small-files maintenance every append-only store needs:
    * each append adds a batch dir, and a thousand appends later every
    * search opens a thousand parquet footers. Compaction rewrites the
    * ALREADY-ENCODED rows (no re-training, no re-encoding — model.json
    * copies verbatim, so the frozen-model contract and bit-identical
    * scores survive) clustered by cell into one batch, and validates the
    * rewrite against the source meta's row count before the destination
    * meta commits ([[graft.sources.StoreMeta.Store.compactFrom]]). */
  def annIndexCompact(spark: SparkSession, srcDir: String, dstDir: String,
                      overwrite: Boolean = false,
                      lockWaitMs: Long = 0L): Unit = {
    val src = store(spark, srcDir)
    val dst = store(spark, dstDir)
    dst.compactFrom(src, "annIndexCompact", overwrite, lockWaitMs) { (meta, staged) =>
      checkedModel(src, meta)
      // model copies as RAW BYTES (validated above): a parse + re-render
      // round trip would make byte identity incidental — e.g.
      // signaling-NaN bit patterns may not survive intBitsToFloat
      val srcModelBytes = {
        val in = src.fs.open(new org.apache.hadoop.fs.Path(src.root, "model.json"))
        try in.readAllBytes() finally in.close()
      }
      val modelOut = dst.fs.create(new org.apache.hadoop.fs.Path(staged, "model.json"), true)
      try modelOut.write(srcModelBytes) finally modelOut.close()
      // tombstoned vectors DROP PHYSICALLY here (the reclamation path)
      val all = src.live(src.plane("vectors", meta.batches), meta)
        .select("id", "cell", "codes", "vnorm", "vec")
      all.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$staged/vectors/b0")
      // meta's n is the live count (deletes already subtracted), so this
      // equality also validates the tombstone drop — a drift means a torn
      // source or a lost write; refuse rather than bless a store that
      // silently dropped (or resurrected) vectors
      val written = spark.read.schema(all.schema).parquet(s"$staged/vectors/b0").count()
      require(written == meta.n,
        s"annIndexCompact: rewrote $written rows but '$srcDir' meta says ${meta.n} — " +
          "source store torn or write incomplete; not committing")
    }
  }

  /** One-row OPERATIONAL snapshot of a vector store (r17) — the
    * inspection op that completes the lifecycle (build / append / delete
    * / compact / search / STATS), the [[graft.operators.KeywordSearch
    * .bm25IndexStats]] twin: live vector count from the meta
    * (delete-adjusted), the frozen model's geometry (`dim`, `subspaces`,
    * `cells` — read back from model.json, so the numbers check the model
    * round-trip, not the build call), and the maintenance gauges
    * (`batches`, `tomb_batches`, `tomb_rows`). Pure meta/model reads —
    * no vector-plane scan, no lease; a crashed swap heals on open like
    * every other reader. */
  def annIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val (index, meta) = open(spark, dir)
    val (cents, _) = readModel(index.fs, index.root, dir)
    import spark.implicits._
    import meta.{batches, n, tombBatches, tombRows}
    Seq((n, dimOf(meta), subspacesOf(meta), cents.length, batches, tombBatches, tombRows))
      .toDF("vectors", "dim", "subspaces", "cells", "batches",
        "tomb_batches", "tomb_rows")
  }

  /** Per-batch MODEL-FIT gauge (r18) — the drift signal [[annIndexStats]]
    * deliberately lacks (stats is a pure meta/model read; this op SCANS
    * the vector plane once, so it is a separate, knowingly-priced call):
    * for every live batch, the mean and p95 cosine distance
    * (1 − cosine) between each vector and its ASSIGNED coarse centroid
    * under the frozen model. Appends encode under the build-time model by
    * design (drift degrades RECALL, never score correctness — returned
    * cosines are exact), so nothing in the search path ever says WHEN the
    * model has aged out; this gauge does: batch 0 is the build-time
    * baseline (the model was fitted on it, or on a sample of it), and an
    * appended batch whose `mean_centroid_dist` runs materially above
    * batch 0's means its vectors land far from every trained centroid —
    * quantization error is up and recall is sliding. REBUILD RULE (the
    * SURVEY recommendation): rebuild when an appended batch's mean runs
    * ≥ ~0.1–0.2 ABOVE batch 0's, or its p95 approaches the
    * cosine-distance ceiling (≥ ~0.9 — near-orthogonal to its own best
    * centroid). An absolute margin, not a ratio: the baseline mean is
    * set by the data's own cluster tightness (measured ~0.68 on the
    * synthetic embeddings — a ratio rule would under- or over-fire as
    * that baseline moves), while a fully model-orthogonal batch pins the
    * gauge at exactly 1.0 at any baseline.
    * Assignment is the STORED `cell` (what search actually probes), the
    * distance recomputes from the stored raw vectors against the model
    * read BACK from model.json — so the gauge also cross-checks the
    * model round trip. One column-pruned scan (cell, vec), a broadcast
    * centroid join, one per-batch aggregate; tombstoned vectors are
    * excluded (they can never be returned, so their fit is moot). */
  def annIndexDrift(spark: SparkSession, dir: String): DataFrame = {
    val (index, meta) = open(spark, dir)
    require(meta.n > 0, s"annIndexDrift: index at '$dir' holds no vectors")
    val (cents, _) = checkedModel(index, meta)
    val centSchema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("__cent", ArrayType(FloatType, containsNull = false), nullable = false)))
    val centDf = spark.createDataFrame(
      java.util.Arrays.asList(cents.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c.toSeq) }: _*), centSchema)
    val tagged = (0 until meta.batches)
      .map(i => spark.read.parquet(s"$dir/vectors/b$i")
        .select(col("id"), col("cell"), col("vec")).withColumn("batch", lit(i)))
      .reduce(_ unionByName _)
    index.live(tagged, meta)
      .join(broadcast(centDf), "cell")
      .withColumn("__dist", lit(1.0) - vec_cosine(col("vec"), col("__cent")))
      .groupBy("batch")
      .agg(count(lit(1)).as("vectors"),
        avg(col("__dist")).as("mean_centroid_dist"),
        percentile(col("__dist"), lit(0.95)).as("p95_centroid_dist"))
      .orderBy("batch")
  }

  /** One delta ENCODE → a `vectors/b<i>` batch (overwrite mode, so an
    * orphan dir from a crashed append clobbers). One shuffle clusters rows
    * by coarse cell so each `cell=` directory holds contiguous files.
    *
    * Validation follows the bm25-store convention: stats come from the
    * WRITTEN files — a pre-flight aggregate over the delta would be
    * TOCTOU against a non-deterministic source (sample(), a live table),
    * letting guarded-against rows land anyway and meta's `n` disagree
    * with the store. A wrong-dim vector refuses DURING the write
    * (PqEncode's in-kernel dim check fails the job before meta moves);
    * duplicate ids and an empty delta refuse from the read-back — in
    * every failure case meta is untouched and the batch dir is an
    * invisible orphan the next attempt clobbers. Returns the delta's
    * written row count. */
  private def writeBatch(docs: DataFrame, idCol: String, vecCol: String,
                         dir: String, batch: Int, dim: Int,
                         cents: Array[Array[Float]],
                         books: Array[Array[Array[Float]]]): Long = {
    val codes = GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(col("__v")), books))
    val proj = docs.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("id"),
        element_at(nearest_cells(col("__v"), cents, 1), 1).as("cell"),
        codes.as("codes"),
        sqrt(vec_dot(col("__v"), col("__v"))).as("vnorm"),
        col("__v").as("vec"))
    proj.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/vectors/b$batch")
    // explicit schema so a zero-row write (no cell= dirs to infer from)
    // still reads back as an empty frame and refuses below
    val st = docs.sparkSession.read.schema(proj.schema)
      .parquet(s"$dir/vectors/b$batch")
      .agg(count(lit(1)), countDistinct(col("id"))).collect()(0)
    val dn = st.getLong(0)
    require(dn > 0L,
      s"annIndex: delta holds no non-null vectors — nothing would grow in '$dir'")
    require(st.getLong(1) == dn,
      s"annIndex: delta has ${dn - st.getLong(1)} duplicate ids — index " +
        "semantics are per-vector; dedupe ids first")
    dn
  }

  /** The frozen model of `index`, cross-checked against its meta: a
    * mixed-up or partially-copied store (model.json from a different
    * index) must refuse loudly, not probe wrong cells or crash
    * executor-side. */
  private def checkedModel(index: StoreMeta.Store, meta: StoreMeta.Meta)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val (cents, books) = readModel(index.fs, index.root, index.dir)
    val (dim, m, dir) = (dimOf(meta), subspacesOf(meta), index.dir)
    require(books.length == m,
      s"'$dir' model holds ${books.length} codebooks but meta says m = $m")
    require(cents.nonEmpty && cents.forall(_.length == dim),
      s"'$dir' model centroids do not span meta dim $dim — " +
        "model.json belongs to a different index")
    require(books.forall(_.nonEmpty) && books.map(_.head.length).sum == dim,
      s"'$dir' model codebook subspaces do not sum to meta dim $dim — " +
        "model.json belongs to a different index")
    (cents, books)
  }

  // ------------------------------------------------------------- metadata

  /** The vector store, as the shared lifecycle sees it: its own meta
    * fields are the frozen model's `dim` and `m`, and the vector plane is
    * read batch by batch (each batch root is hive-partitioned by cell). */
  private val IndexKind = StoreMeta.Kind(format = "graft-ann-index", noun = "an ann index",
    ops = "annIndex", key = "id", keyPlane = "vectors", item = "vector",
    stats = Seq("dim", "m"), flags = Nil, weight = None, unionBatches = true)

  private def store(spark: SparkSession, dir: String) = new StoreMeta.Store(IndexKind, spark, dir)
  private def open(spark: SparkSession, dir: String) = StoreMeta.open(IndexKind, spark, dir)

  private def dimOf(meta: StoreMeta.Meta): Int = meta.stats("dim").toInt
  private def subspacesOf(meta: StoreMeta.Meta): Int = meta.stats("m").toInt

  /** The frozen model, floats as raw bits: centroids nCells×dim, codebooks
    * m×K×(dim/m). Written once at build; appends and searches only read. */
  private def writeModel(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path,
                         cents: Array[Array[Float]],
                         books: Array[Array[Array[Float]]]): Unit = {
    def bits(v: Array[Float]): String =
      v.map(java.lang.Float.floatToRawIntBits).mkString("[", ",", "]")
    def matrix(mat: Array[Array[Float]]): String =
      mat.map(bits).mkString("[", ",", "]")
    val json = s"""{"format": "graft-ann-model", "version": 1, """ +
      s""""cents": ${matrix(cents)}, """ +
      s""""books": ${books.map(matrix).mkString("[", ",", "]")}}"""
    StoreMeta.atomicWriteJson(fs, new org.apache.hadoop.fs.Path(root, "model.json"), json)
  }

  private[graft] def readModel(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path, dir: String)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val j = StoreMeta.sidecar(fs, root, dir, "model.json", "graft-ann-model")
    import org.json4s._
    def floats(v: JValue): Array[Float] = v match {
      case JArray(xs) => xs.map {
        case JInt(b) => java.lang.Float.intBitsToFloat(b.intValue)
        case other => throw new IllegalArgumentException(
          s"'$dir' model.json holds a non-int float-bits entry: $other")
      }.toArray
      case other => throw new IllegalArgumentException(
        s"'$dir' model.json holds a non-array vector: $other")
    }
    def matrix(v: JValue): Array[Array[Float]] = v match {
      case JArray(rows) => rows.map(floats).toArray
      case other => throw new IllegalArgumentException(
        s"'$dir' model.json holds a non-array matrix: $other")
    }
    val books = (j \ "books") match {
      case JArray(bs) => bs.map(matrix).toArray
      case other => throw new IllegalArgumentException(
        s"'$dir' model.json 'books' is not an array: $other")
    }
    (matrix(j \ "cents"), books)
  }

}
