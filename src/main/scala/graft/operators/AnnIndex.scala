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
  * same parameters over the same corpus (same NearestCells/PqEncode/
  * PqAdcDot kernels, same driver-side probe order and ADC tables, same
  * two-stage deterministic top-k; floats round-trip parquet exactly) —
  * which is what the `ann_index_search` gate pins.
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
    * path ([[graft.sources.StoreMeta.Store.delete]]): both search forms
    * anti-join the tombstone plane (broadcast — above the scan, so
    * partition pruning and column pruning are untouched), and
    * [[annIndexCompact]] physically drops the rows and resets the plane.
    * The frozen model never moves, so search over the store-with-deletes
    * is BIT-IDENTICAL to a from-scratch rebuild of the surviving vectors
    * trained on the same sample (the gate's pin). */
  def annIndexDelete(spark: SparkSession, dir: String,
                     ids: DataFrame, idCol: String): Unit =
    store(spark, dir).delete("annIndexDelete", ids, idCol)

  /** Search the index: zero corpus scans, zero training — probed cells
    * become PartitionFilters on the store, ADC scores the column-pruned
    * candidates, and the `k·refine` short list re-ranks with exact
    * cosines. Output columns and the deterministic (cosine desc,
    * neighbor_id asc) tie rule match [[Similarity.pqTopK]] exactly.
    * `queries` must be a driver-sized battery (vectors are collected to
    * build the per-query ADC tables, exactly as in pqTopK).
    *
    * `predicate` (r16) is FILTERED vector search — the compose-a-metadata-
    * filter shape production search almost always runs: a Column over the
    * store row (id, cell, codes, vnorm, vec — in practice the id, with
    * metadata reduced to an id predicate or semi-joined upstream) applied
    * PRE-RANK, so the `k·refine` short list draws entirely from
    * survivors (disallowed vectors never occupy short-list slots) and
    * results are exactly the unfiltered search of an index holding only
    * the allowed vectors under the same frozen model (the gate's pin).
    * Composes WITH the probed-cell pruning: the predicate sits above the
    * scan next to the tombstone anti-join, so PartitionFilters and column
    * pruning are untouched (plan-pinned) — an id predicate even pushes
    * into the scan itself.
    *
    * `refill` (r17) closes the residual under-fill: probing still visits
    * only the `nProbe` cells nearest the query, so under a SELECTIVE
    * predicate the survivors may cluster in unprobed cells and the result
    * runs dry below `k` — honest per the contract, surprising in
    * production, where vector search auto-widens. With `refill = true`,
    * any query returning fewer than `k` rows re-probes with the probe
    * count DOUBLED (×2 per round, capped at the store's cell count) until
    * it fills or the probes span every cell — at full span the candidate
    * set IS every survivor, so a still-short result means the filtered
    * store genuinely holds fewer than `k` vectors. Queries already filled
    * keep their original rows untouched (widening is per-query — the
    * spec's pin); the default stays `false` so fixed-parameter results
    * remain bit-reproducible against [[Similarity.pqTopK]]. Driver-side
    * iteration is sound here because this form's battery is ALREADY
    * driver-sized by contract and each round's result is at most
    * `k × queries` rows. */
  def annSearchIndexed(spark: SparkSession, dir: String,
                       queries: DataFrame, qidCol: String, qvecCol: String,
                       k: Int = 10, nProbe: Int = 8, refine: Int = 4,
                       predicate: Option[Column] = None,
                       refill: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1 && refine >= 1,
      s"annSearchIndexed: k, nProbe, refine must be >= 1 (got $k, $nProbe, $refine)")
    val (dim, cents, books, unfiltered) = openSearch(spark, dir, "annSearchIndexed")
    val store = predicate.map(unfiltered.filter).getOrElse(unfiltered)
    val qProj = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("__qv"))
      .filter(col("__qv").isNotNull)
    val qRows = qProj.collect()
    require(qRows.nonEmpty, "annSearchIndexed: empty query battery")
    qRows.foreach { r =>
      val d = r.getAs[scala.collection.Seq[Float]](1).length
      require(d == dim,
        s"annSearchIndexed: query '${r.get(0)}' has dim $d, index at '$dir' holds dim $dim")
    }

    def searchAt(rows: Array[org.apache.spark.sql.Row], probes: Int): DataFrame = {
      val perQuery = rows.map { r =>
        val qid = r.get(0)
        val qv = r.getAs[scala.collection.Seq[Float]](1).toArray
        // probe order and ADC table: ONE copy of the driver math, shared
        // with pqTopK (Similarity.pqProbeOrder / pqAdcTable) — the
        // bit-identity contract between the forms is structural, not
        // parallel-maintenance
        val probed: Seq[Int] = Similarity.pqProbeOrder(qv, cents).take(probes)
        var qn0 = 0.0
        qv.foreach(x => qn0 += x.toDouble * x.toDouble)
        val qNorm = math.sqrt(qn0)
        val table = Similarity.pqAdcTable(qv, books)
        val adc = GraftColumnBridge.column(graft.functions.PqAdcDot(
          GraftColumnBridge.expression(col("codes")), table))
        store
          .filter(col("cell").isin(probed.map(Int.box): _*))
          .select(typedLit(qid).as("query_id"), col("id").as("neighbor_id"),
            (adc / (lit(qNorm) * col("vnorm"))).as("__approx"))
      }.reduce(_ unionByName _)
      // rescore from the ALREADY-COLLECTED battery rows, not a re-read of
      // `queries` (a non-deterministic battery could diverge between the
      // two evaluations — the pqTopK fix, mirrored)
      val qVec = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), qProj.schema))
      rescoreTopK(perQuery, store, qVec, k, refine)
    }

    if (!refill) return searchAt(qRows, nProbe)
    val nCells = cents.length
    val kept = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var outSchema: org.apache.spark.sql.types.StructType = null
    var remaining = qRows
    var probes = math.min(nProbe, nCells)
    while (remaining.nonEmpty) {
      val res = searchAt(remaining, probes)
      outSchema = res.schema
      val rows = res.collect() // ≤ k × |remaining| by construction
      val fill = rows.groupBy(_.get(0)).view.mapValues(_.length).toMap
      val starved = remaining.filter(r => fill.getOrElse(r.get(0), 0) < k)
      if (starved.isEmpty || probes >= nCells) {
        kept ++= rows // at full span a short query has < k survivors, period
        remaining = Array.empty
      } else {
        val starvedIds = starved.map(_.get(0)).toSet
        kept ++= rows.filterNot(r => starvedIds.contains(r.get(0)))
        remaining = starved
        probes = math.min(probes * 2, nCells)
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(kept.toSeq: _*), outSchema)
  }

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

  /** Battery-scale search — the queries stay DATA (the bm25 big-battery
    * doctrine on the vector plane): one constant-size plan for any battery,
    * no driver collect, no per-query plan branches. Probes become a
    * cell-equality JOIN against the store instead of driver-side
    * PartitionFilters (right when the battery is too large to enumerate
    * probed cells as literals), the ADC inner product computes directly
    * from the codebooks riding the plan ([[graft.functions.PqAdcDirect]] —
    * no per-query driver table), and the exact re-rank joins survivors
    * back to raw vectors.
    *
    * Output is BIT-IDENTICAL to [[annSearchIndexed]] over the same store
    * and battery: the query-side probe rule is the same NearestCells
    * kernel the corpus was assigned with (same cosine arithmetic and
    * lowest-index tie rule as the driver-side probe loop), the per-query
    * ADC table's entries ARE PqAdcDirect's per-subspace dots in the same
    * fold order, and both share the deterministic two-stage top-k (the
    * degenerate-cosine ordering also agrees: NearestCells ranks NaN
    * cosines last, and the shared [[Similarity.pqProbeOrder]] maps NaN
    * cosines to -Infinity — both below every real cosine, ties on cell
    * index). A wrong-dim query refuses in-plan before it can probe.
    *
    * `refill` (r18) is the batch twin of the driver form's r17 refill —
    * through r17 only the driver-sized form auto-widened, so a
    * corpus-scale FILTERED battery (the production retrieval shape)
    * still silently under-filled when a selective predicate's survivors
    * clustered in unprobed cells. The widening is RELATIONAL: after each
    * pass, starved query ids (fewer than `k` result rows — an anti-join
    * against the per-query fill counts, so zero-row queries starve too)
    * get the next pass at DOUBLED probes via the same cell-equality
    * join; filled queries keep their original rows untouched. Queries
    * NEVER collect — the driver only iterates ROUNDS (≤ log₂(cells)+1,
    * one bounded emptiness check per round), and each round's result
    * (≤ k rows per starved query) plus the starved id set localCheckpoint
    * so the battery is scanned once and round plans stay constant-depth.
    * Same doubling schedule, probe rule, and fill rule as the driver
    * form, so the two refill forms are bit-identical over the same store
    * and battery; at full span the candidate set IS every survivor, so a
    * still-short query genuinely has fewer than `k` allowed vectors. */
  def annSearchIndexedBatch(spark: SparkSession, dir: String,
                            queries: DataFrame, qidCol: String, qvecCol: String,
                            k: Int = 10, nProbe: Int = 8, refine: Int = 4,
                            predicate: Option[Column] = None,
                            refill: Boolean = false): DataFrame = {
    require(k >= 1 && nProbe >= 1 && refine >= 1,
      s"annSearchIndexedBatch: k, nProbe, refine must be >= 1 (got $k, $nProbe, $refine)")
    val (dim, cents, books, unfiltered) = openSearch(spark, dir, "annSearchIndexedBatch")
    // filtered search (r16): the predicate applies PRE-RANK, exactly as
    // in the driver form — short list drawn from survivors, candidate
    // pruning untouched (the cell-equality join composes above it)
    val store = predicate.map(unfiltered.filter).getOrElse(unfiltered)
    val q0 = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("__qv"))
      .filter(col("__qv").isNotNull)
      // the dim guard stays IN-PLAN (queries are data): a wrong-dim query
      // refuses when its vector is first touched, even if its probed
      // cells would hold no candidates to reach PqAdcDirect's own check
      .withColumn("__qv", when(size(col("__qv")) === dim, col("__qv"))
        .otherwise(raise_error(concat(
          lit("annSearchIndexedBatch: query of dim "),
          size(col("__qv")).cast("string"),
          lit(s" does not match codebook dim $dim")))))
    // an all-null or empty battery refuses loudly like the driver form
    // (one bounded probe job — isEmpty stops at the first non-empty slice)
    require(!q0.isEmpty, "annSearchIndexedBatch: empty query battery")
    val adc = GraftColumnBridge.column(graft.functions.PqAdcDirect(
      GraftColumnBridge.expression(col("codes")),
      GraftColumnBridge.expression(col("__qv")), books))
    def passAt(q: DataFrame, probes: Int): DataFrame = {
      val qCells = q
        .withColumn("cell", explode(nearest_cells(col("__qv"), cents, probes)))
        // per-QUERY norm, hoisted before the candidate join — recomputing
        // the dim-length dot per (query, candidate) row would double the
        // ADC stage's arithmetic; same expression, bit-identical value
        .withColumn("__qn", sqrt(vec_dot(col("__qv"), col("__qv"))))
      // corpus side is assigned with nProbe = 1, so (query, neighbor) pairs
      // are unique across probed cells — same invariant as the driver form
      val scored = qCells.join(store, "cell")
        .select(col("query_id"), col("id").as("neighbor_id"),
          (adc / (col("__qn") * col("vnorm"))).as("__approx"))
      rescoreTopK(scored, store, q, k, refine)
    }
    if (!refill) return passAt(q0, nProbe)
    // checkpoint the battery once: the widening rounds re-join it, and a
    // non-deterministic battery must not diverge between passes (the
    // collect the driver form runs for the same reason, kept distributed)
    val nCells = cents.length
    var remaining = q0.localCheckpoint(true)
    var probes = math.min(nProbe, nCells)
    var rounds = 0
    var kept: DataFrame = null
    var done = false
    while (!done) {
      rounds += 1
      // ≤ k rows per remaining query; checkpointed because it feeds both
      // the fill counts and the kept/starved split below
      val res = passAt(remaining, probes).localCheckpoint(true)
      val filledIds = res.groupBy("query_id")
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= k)
        .select("query_id")
      // anti-join, not a filter on counts: a query with ZERO result rows
      // appears in no count row and must starve
      val starved = remaining.join(filledIds, Seq("query_id"), "left_anti")
        .localCheckpoint(true)
      if (probes >= nCells || starved.isEmpty) {
        // at full span a short query has < k allowed vectors, period
        kept = if (kept == null) res else kept.unionByName(res)
        done = true
      } else {
        kept = {
          val filledRows =
            res.join(starved.select("query_id"), Seq("query_id"), "left_anti")
          if (kept == null) filledRows else kept.unionByName(filledRows)
        }
        remaining = starved
        probes = math.min(probes * 2, nCells)
      }
    }
    lastBatchRefillRounds.set(rounds)
    kept
  }

  /** Rounds the last `refill = true` [[annSearchIndexedBatch]] executed
    * on THIS thread — spec instrumentation only (the widening-fires-only-
    * on-starved-queries pin); production code never reads it. */
  private[graft] val lastBatchRefillRounds: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** The shared re-rank tail of both search forms: short-list the top
    * `k·refine` by approximate cosine (deterministic two-stage top-k),
    * rejoin the survivors' raw vectors from the store, and rank the exact
    * cosines under the shared (cosine desc, neighbor_id asc) tie rule.
    * `qVec` supplies (query_id, __qv) — broadcast by the driver form,
    * left as data by the batch form. */
  private def rescoreTopK(scored: DataFrame, store: DataFrame,
                          qVec: DataFrame, k: Int, refine: Int): DataFrame = {
    val shortList = Similarity.twoStageTopK(
        scored.select("query_id", "neighbor_id", "__approx"), "query_id",
        col("__approx"), col("neighbor_id"), k * refine, "__ar")
      .select("query_id", "neighbor_id")
    val cVec = store.select(col("id").as("neighbor_id"), col("vec"))
    val rescored = shortList.join(cVec, "neighbor_id").join(qVec, "query_id")
      .withColumn("cosine", vec_cosine(col("vec"), col("__qv")))
    Similarity.twoStageTopK(
        rescored.select("query_id", "neighbor_id", "cosine"), "query_id",
        col("cosine"), col("neighbor_id"), k)
      .select("query_id", "neighbor_id", "cosine", "rank")
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

  /** The shared store-opening header of both search forms: meta + model
    * reads, cross-checks, and the LIVE vector view (a deleted vector can
    * neither be a candidate nor a re-rank survivor). */
  private def openSearch(spark: SparkSession, dir: String, caller: String)
      : (Int, Array[Array[Float]], Array[Array[Array[Float]]], DataFrame) = {
    val (index, meta) = open(spark, dir)
    require(meta.n > 0, s"$caller: index at '$dir' holds no vectors")
    val (cents, books) = checkedModel(index, meta)
    (dimOf(meta), cents, books, index.live(index.plane("vectors", meta.batches), meta))
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
