package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`).
  *
  * Two paths:
  *  - `bruteForceTopK`: exact cosine top-k. The query side is broadcast (a
  *    handful of vectors); the corpus side is scanned once; per-partition
  *    top-k via window rank. This is the correctness baseline — a broadcast
  *    nested loop over a single scan, no shuffle of the corpus.
  *  - `lshTopK`: random-hyperplane LSH (signed projections) bucketing — the
  *    100 TB path: candidates come from an equality join on bucket
  *    signatures, then exact re-rank inside buckets.
  *
  * All vector math is codegen'd (`zip_with`/`aggregate` fold over doubles);
  * no UDFs. Dot products fold left-to-right, so results are deterministic.
  */
object Similarity {

  /** Deterministic dot product of two float-array columns, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k per query under the shared (cosine desc, neighbor asc)
    * order. The projection ahead of [[twoStageTopK]] keeps fat columns
    * (raw vectors) out of the heap payload. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    twoStageTopK(scored.select("query_id", "neighbor_id", "cosine"),
      "query_id", col("cosine"), col("neighbor_id"), k)
      .select("query_id", "neighbor_id", "cosine", "rank")

  /** The deterministic per-key exact top-k shared by the ANN ops,
    * [[KeywordSearch]], [[Dsir]] and [[Fusion]] — order is always
    * `(score DESC NULLS LAST, id ASC NULLS FIRST)` with `id` unique per
    * key, so the result admits exactly one answer.
    *
    * r18: a bounded-heap aggregate ([[graft.functions.TopKRows]])
    * replaced the two-window form. The window form's stage 1 was an
    * Exchange of EVERY scored row by (key, partition-id) + a full sort
    * per partition — at the retrieval shapes that is millions of rows
    * exchanged and sorted for a battery whose answer is k rows per
    * query. The heap aggregate keeps the per-key top k map-side
    * (partial mode), exchanges ≤ k rows per (partition, key), and
    * merges heaps; no sort of the scored volume ever happens. Rows and
    * ranks are bit-identical to the window form (same strict total
    * order, same Spark null/NaN semantics — TopKRows' contract). */
  private[graft] def twoStageTopK(df: DataFrame, keyCol: String,
      scoreCol: Column, idCol: Column, k: Int,
      rankCol: String = "rank"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val payload = struct(df.columns.map(col): _*)
    val packed = struct(scoreCol.cast(DoubleType).as("__sc"),
      idCol.as("__id"), payload.as("__pl"))
    val agg = GraftColumnBridge.column(graft.functions.TopKRows(
      GraftColumnBridge.expression(packed), k))
    df.groupBy(col(keyCol)).agg(agg.as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__tkpos", "__tkrow")))
      .select(df.columns.map(c => col(s"__tkrow.__pl.$c")) :+
        (col("__tkpos") + lit(1)).cast(IntegerType).as(rankCol): _*)
  }

  /** Exact cosine top-k of each query vector against the corpus.
    *
    * `queries` must be small (it is broadcast). One corpus scan, one
    * corpus-volume shuffle spread over (query × partition) keys by the
    * two-stage [[topKPerQuery]] prune, then a tiny survivors-only shuffle.
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10,
  ): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")))
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .crossJoin(q)
      .withColumn("cosine",
        graft.functions.VectorFunctions.vec_cosine(col("__cv"), col("__qv")))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane signatures: (id, table, sig) rows. Each of `tables`
    * signatures has `nBits` fixed pseudo-random hyperplanes (weight for
    * (table, bit, dim) from xxhash64, uniform in [-1, 1)); signature bit =
    * sign of the projection, so vectors with equal signatures are near in
    * angle with high probability. The projections are flat `sum(x * w)`
    * aggregates over exploded dimensions — higher-order functions are
    * interpreted in Spark, this path stays in whole-stage codegen. One
    * shuffle on id.
    */
  def hyperplaneSignaturesFlat(df: DataFrame, idCol: String, vecCol: String,
                               nBits: Int, tables: Int, seed: Int = 42): DataFrame = {
    val rows = df
      .select(col(idCol).as("id"), posexplode(col(vecCol)))
      .select(col("id"), col("pos"), col("col").cast(DoubleType).as("x"))
    val projAggs = for { t <- 0 until tables; b <- 0 until nBits } yield
      sum(col("x") * (xxhash64(lit(seed + t), lit(b), col("pos")).cast(DoubleType)
        / lit(Long.MaxValue.toDouble))).as(s"p_${t}_$b")
    val agged = rows.groupBy("id").agg(projAggs.head, projAggs.tail: _*)
    val sigs = (0 until tables).map { t =>
      struct(lit(t).as("table"),
        (0 until nBits)
          .map(b => when(col(s"p_${t}_$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
    }
    agged.select(col("id"), explode(array(sigs: _*)).as("s"))
      .select(col("id"), col("s.table").as("table"), col("s.sig").as("sig"))
  }

  /** LSH-bucketed ANN top-k: multi-probe via `tables` independent
    * signatures. Equality join on (table, signature) generates candidates —
    * ids only, vectors rejoin afterwards — then exact cosine re-ranks.
    * Recall < 1 by construction — the scale path; the brute-force op above
    * is the oracle to measure recall against.
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nBits: Int = 12, tables: Int = 4,
  ): DataFrame = {
    val cSig = hyperplaneSignaturesFlat(corpus, corpusId, corpusVec, nBits, tables)
      .withColumnRenamed("id", "neighbor_id")
    val qSig = hyperplaneSignaturesFlat(queries, queryId, queryVec, nBits, tables)
      .withColumnRenamed("id", "query_id")
    val candidates = cSig.join(qSig, Seq("table", "sig"))
      .select("query_id", "neighbor_id").distinct()
    val cVec = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val qVec = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")))
    val scored = candidates.join(cVec, "neighbor_id").join(qVec, "query_id")
      .withColumn("cosine",
        graft.functions.VectorFunctions.vec_cosine(col("__cv"), col("__qv")))
    topKPerQuery(scored, k)
  }

  /** IVF-style cell assignment: nearest of the `centroids` per vector,
    * `nProbe` cells per row (queries probe several cells to recover recall
    * at cell boundaries). Output: input columns + `cell`.
    *
    * Shuffle-free: the centroid table is TINY by construction (≤ a few
    * thousand rows), so it is collected once and baked into a native
    * [[graft.functions.NearestCells]] argmax expression evaluated per row
    * inside the scan — no crossJoin row multiplication (the old shape paid
    * an nCells× multiplicative shuffle of the corpus plus a corpus-wide
    * window), no shuffle at all. Rows with a null vector are dropped (they
    * belong to no cell). Tie-break matches the join form it replaced:
    * cosine desc, then cell id asc.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, centroidId: String, centroidVec: String,
                nProbe: Int = 1): DataFrame = {
    val (ids, cents) = collectCentroids(centroids, centroidId, centroidVec)
    ivfAssignCollected(df, vecCol, ids, cents, nProbe)
  }

  /** Collect a (tiny by construction) centroid table to the driver, id
    * ascending — so NearestCells' index-asc tie-break == cell-id asc. */
  private def collectCentroids(centroids: DataFrame, centroidId: String,
                               centroidVec: String): (Array[Any], Array[Array[Float]]) = {
    val rows = centroids
      .select(col(centroidId).as("cell"), col(centroidVec).as("__cent"))
      // drop null centroid vectors here too (the kmeans seed path filters
      // them; the kmeansIters=0 first-N path otherwise NPEs on .toArray)
      .filter(col("__cent").isNotNull)
      .orderBy(col("cell")).collect()
    require(rows.nonEmpty, "ivfAssign: empty centroid table")
    require(rows.length <= 65536,
      s"ivfAssign: ${rows.length} centroids — the collected-argmax path is for coarse " +
        "quantizers (<= 65536 cells); shard the index for more")
    (rows.map(_.get(0)),
      rows.map(_.getAs[scala.collection.Seq[Float]]("__cent").toArray))
  }

  /** [[ivfAssign]] with the centroids already on the driver — the zero-job
    * form the IVF internals compose. */
  private def ivfAssignCollected(df: DataFrame, vecCol: String, cellIds: Array[Any],
                                 cents: Array[Array[Float]], nProbe: Int): DataFrame = {
    val idArr = array(cellIds.map(lit).toIndexedSeq: _*)
    df.withColumn("__cidx",
        explode(graft.functions.VectorFunctions.nearest_cells(col(vecCol), cents, nProbe)))
      .withColumn("cell", element_at(idArr, col("__cidx") + 1))
      .drop("__cidx")
  }

  /** Lloyd-refined coarse centroids, driver-resident: seed with the first
    * `nCells` corpus vectors (deterministic), then `iters` rounds of
    * assign → element-wise member mean. The centroid table is nCells × dim
    * floats — driver-array-sized by definition — so each round is exactly
    * ONE distributed job: an in-scan [[graft.functions.NearestCells]]
    * assignment feeding a map-side-combined (cell, dim) mean whose shuffle
    * volume is partitions × nCells × dim partial sums, collected back to
    * nCells×dim rows. No per-round checkpoints, no lineage growth, no
    * re-collect per consumer. Cells that lose all members drop out (k may
    * shrink). Returns (cell ids, centroid matrix), id-ascending.
    */
  def kmeansCentroidArrays(df: DataFrame, idCol: String, vecCol: String,
                           nCells: Int, iters: Int = 2): (Array[Any], Array[Array[Float]]) = {
    val seed = df.select(col(idCol).as("cell"), col(vecCol).as("__cent"))
      .filter(col("__cent").isNotNull)
      .orderBy("cell").limit(nCells).collect()
    require(seed.nonEmpty, "kmeansCentroidArrays: no seed vectors")
    var ids: Array[Any] = seed.map(_.get(0))
    var cents = seed.map(_.getAs[scala.collection.Seq[Float]]("__cent").toArray)
    for (_ <- 0 until iters) {
      val means = df
        .withColumn("__cidx", element_at(
          graft.functions.VectorFunctions.nearest_cells(col(vecCol), cents, 1), 1))
        .filter(col("__cidx").isNotNull)
        .select(col("__cidx"), posexplode(col(vecCol)))
        .groupBy("__cidx", "pos").agg(avg(col("col")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      val kept   = byCell.keySet.toArray.sorted // index order == id order, preserved
      ids   = kept.map(ids)
      cents = kept.map(c => byCell(c).sortBy(_.getInt(1)).map(_.getDouble(2).toFloat))
    }
    (ids, cents)
  }

  /** DataFrame view of [[kmeansCentroidArrays]] — (cent_id, cent_vec) rows,
    * for callers composing with the DataFrame-based [[ivfAssign]]. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      nCells: Int, iters: Int = 2): DataFrame = {
    val (ids, cents) = kmeansCentroidArrays(df, idCol, vecCol, nCells, iters)
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("cent_id", df.schema(idCol).dataType),
      StructField("cent_vec", ArrayType(FloatType))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    ids.zip(cents).foreach { case (i, v) =>
      rows.add(org.apache.spark.sql.Row(i, v.toIndexedSeq))
    }
    spark.createDataFrame(rows, schema)
  }

  /** IVF ANN top-k — the second scale path next to [[lshTopK]]:
    * coarse-quantize the corpus into `nCells` cells (centroids seeded
    * deterministically from the corpus, optionally Lloyd-refined with
    * `kmeansIters` rounds), probe the query's `nProbe` nearest cells,
    * exact re-rank inside them. Candidate generation is an equality join on
    * `cell`; the corpus is scanned once for assignment and once for
    * re-rank-by-candidate.
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 0,
  ): DataFrame = {
    val (ids, cents) =
      if (kmeansIters > 0) kmeansCentroidArrays(corpus, corpusId, corpusVec, nCells, kmeansIters)
      else collectCentroids(
        corpus.select(col(corpusId).as("cent_id"), col(corpusVec).as("cent_vec"))
          .orderBy("cent_id").limit(nCells),
        "cent_id", "cent_vec")
    val corpusCells = ivfAssignCollected(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
      "__cv", ids, cents, nProbe = 1)
    val queryCells = ivfAssignCollected(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")),
      "__qv", ids, cents, nProbe = nProbe)
    val scored = queryCells.join(corpusCells, "cell")
      .withColumn("cosine", graft.functions.VectorFunctions.vec_cosine(col("__cv"), col("__qv")))
    // (query, neighbor) pairs are unique here: the corpus side is assigned
    // with nProbe = 1, so a neighbor lives in exactly one probed cell
    topKPerQuery(scored, k)
  }

  /** Per-subspace product-quantization codebooks: slice the corpus vectors
    * into `m` contiguous sub-vectors and Lloyd-train `nCentroids` per
    * subspace. Same per-subspace math as running
    * [[kmeansCentroidArrays]] on each sliced column (deterministic seeds =
    * the first `nCentroids` corpus vectors sliced; assign via the same
    * NearestCells kernel; member means; empty cells drop out) — but FUSED:
    * one seed collect and ONE distributed job per Lloyd round cover all
    * `m` subspaces (the unfused form paid m·(iters+1) driver-coordinated
    * jobs of pure scheduling overhead). Returns m × k × (dim/m) floats
    * (kilobytes — rides plans as a reference object). `dim` must divide
    * by `m`. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, nCentroids: Int = 16,
                  kmeansIters: Int = 2): Array[Array[Array[Float]]] = {
    require(m > 0 && dim % m == 0, s"pqCodebooks: dim $dim not divisible by m $m")
    val subDim = dim / m
    val seedRows = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull).orderBy("id").limit(nCentroids).collect()
    require(seedRows.nonEmpty, "pqCodebooks: no seed vectors")
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      seedRows.map(_.getAs[scala.collection.Seq[Float]]("__v")
        .slice(s * subDim, (s + 1) * subDim).toArray)
    }
    import org.apache.spark.sql.GraftColumnBridge
    for (_ <- 0 until kmeansIters) {
      // assignment rule == the ENCODER's rule (PqEncode: L2-argmin, ties →
      // lowest code): textbook Lloyd with the production quantizer, so the
      // codebooks are fit to exactly the partition the codes come from (an
      // earlier draft assigned with the cosine NearestCells kernel — a
      // different metric than the encoder's, systematically inflating
      // quantization error)
      val codes = GraftColumnBridge.column(graft.functions.PqEncode(
        GraftColumnBridge.expression(col("__v")), books))
      val means = corpus.select(col(vecCol).as("__v"))
        .filter(col("__v").isNotNull)
        .select(codes.as("__c"), posexplode(col("__v")))
        .select(
          (col("pos") / subDim).cast("int").as("sub"),
          element_at(col("__c"), (col("pos") / subDim).cast("int") + 1).as("c"),
          (col("pos") % subDim).as("p"), col("col").cast("double").as("x"))
        .groupBy("sub", "c", "p").agg(avg(col("x")).as("mean"))
        .collect()
      val bySub = means.groupBy(_.getInt(0))
      books = Array.tabulate(m) { s =>
        val cells = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(1))
        // kept-cell index order == prior-centroid order; empty cells drop
        cells.keySet.toArray.sorted.map(c =>
          cells(c).sortBy(_.getInt(2)).map(_.getDouble(3).toFloat))
      }
    }
    books
  }

  /** Fused coarse-IVF + PQ training — the models [[kmeansCentroidArrays]]
    * and [[pqCodebooks]] produce, computed together (r18, guide §1.2
    * "remove unnecessary passes"): ONE shared seed collect (both seed
    * rules are "first rows by id" prefixes of the same ordered scan, and
    * the dim probe reads the same head row) and ONE distributed job per
    * Lloyd round covering both fits, where the unfused pair pays two
    * seed jobs, a dim-probe job, and two full corpus scans per round —
    * pure scheduling and scan duplication, since neither fit reads the
    * other's state. At corpus scale each saved job is a full training-set
    * scan.
    *
    * The per-fit arithmetic is IDENTICAL to the unfused forms — same
    * assignment kernels (NearestCells for cells, PqEncode for codes),
    * same per-group avg() over double-cast components, same
    * empty-cell drop-out and index-order remap — so the returned models
    * are bit-equal to calling the two trainers separately (pinned by
    * FusedTrainSpec against both unfused forms on real fixture data).
    * Returns (cell ids, coarse centroid matrix, PQ codebooks).
    *
    * Seed-equivalence assumption (ADVICE r18): both unfused seed rules
    * are "first rows by id" — this trainer takes the nCells seeds as a
    * PREFIX of one `orderBy(id).limit(max(nCells, nCentroids))` collect.
    * With DUPLICATE ids, `orderBy(id)` is not a total order and that
    * prefix may differ from an independent `orderBy(id).limit(nCells)`
    * run — every caller's id column is unique by contract (the ANN
    * stores refuse duplicate ids at build/append), so the fused and
    * unfused seeds coincide; a duplicate-id corpus would train a valid
    * but not necessarily bit-equal model. */
  private[graft] def trainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, nCentroids: Int, kmeansIters: Int,
      requireTag: String = "trainIvfPq")
      : (Array[Any], Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val seedRows = corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .orderBy("id").limit(math.max(nCells, nCentroids)).collect()
    require(seedRows.nonEmpty, s"$requireTag: training set has no vectors")
    val dim = seedRows.head.getAs[scala.collection.Seq[Float]]("__v").length
    require(m > 0 && dim % m == 0,
      s"$requireTag: vector dim $dim not divisible by m = $m subspaces")
    val subDim = dim / m
    var ids: Array[Any] = seedRows.take(nCells).map(_.get(0))
    var cents = seedRows.take(nCells)
      .map(_.getAs[scala.collection.Seq[Float]]("__v").toArray)
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      seedRows.take(nCentroids).map(_.getAs[scala.collection.Seq[Float]]("__v")
        .slice(s * subDim, (s + 1) * subDim).toArray)
    }
    import org.apache.spark.sql.GraftColumnBridge
    for (_ <- 0 until kmeansIters) {
      val codes = GraftColumnBridge.column(graft.functions.PqEncode(
        GraftColumnBridge.expression(col("__v")), books))
      val cidx = element_at(
        graft.functions.VectorFunctions.nearest_cells(col("__v"), cents, 1), 1)
      val sub = (col("pos") / subDim).cast("int")
      // each exploded vector component contributes to BOTH fits: the cell
      // mean keyed (0, cidx, pos, 0) and the codebook mean keyed
      // (1, sub, code, pos%subDim) — one scan, one aggregation, one
      // collect of (nCells·dim + m·k·subDim) rows
      val rows = corpus.select(col(vecCol).as("__v"))
        .filter(col("__v").isNotNull)
        .select(cidx.as("__cidx"), codes.as("__code"), posexplode(col("__v")))
        .select(explode(array(
          struct(lit(0).as("kind"), col("__cidx").as("k1"), col("pos").as("k2"),
            lit(0).as("k3"), col("col").cast("double").as("x")),
          struct(lit(1).as("kind"), sub.as("k1"),
            element_at(col("__code"), sub + 1).as("k2"),
            (col("pos") % subDim).as("k3"), col("col").cast("double").as("x"))))
          .as("e"))
        // the kmeans fit drops unassigned rows (null cell index) BEFORE
        // its aggregation — the unfused form's filter; pq keys are never
        // null for a non-null vector
        .filter(col("e.kind") === 1 || col("e.k1").isNotNull)
        .groupBy(col("e.kind").as("kind"), col("e.k1").as("k1"),
          col("e.k2").as("k2"), col("e.k3").as("k3"))
        .agg(avg(col("e.x")).as("mean"))
        .collect()
      val (kRows, pRows) = rows.partition(_.getInt(0) == 0)
      val byCell = kRows.groupBy(_.getInt(1))
      val kept = byCell.keySet.toArray.sorted // index order == id order, preserved
      ids = kept.map(ids)
      cents = kept.map(c => byCell(c).sortBy(_.getInt(2)).map(_.getDouble(4).toFloat))
      val bySub = pRows.groupBy(_.getInt(1))
      books = Array.tabulate(m) { s =>
        val cells = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(2))
        // kept-cell index order == prior-centroid order; empty cells drop
        cells.keySet.toArray.sorted.map(c =>
          cells(c).sortBy(_.getInt(3)).map(_.getDouble(4).toFloat))
      }
    }
    (ids, cents, books)
  }

  /** [[pqTopK]]'s driver-side probe order for a query against the coarse
    * centroids — the rule the persisted-index search runs in-plan through
    * the [[graft.functions.NearestCells]] kernel (their bit-identity
    * contract depends on it): cosine descending with the SAME arithmetic
    * as the kernel (dot / (sqrt(q)·sqrt(c)), q-side sqrt first), any
    * non-finite cosine (zero-norm or NaN-component on either side)
    * ranked LAST as -Inf — exactly the kernel's NaN rule — and ties on
    * the lower cell index. */
  private def pqProbeOrder(qv: Array[Float],
                           cents: Array[Array[Float]]): Seq[Int] = {
    val dim = qv.length
    // a query longer than the index dim would otherwise silently probe on
    // its prefix and return plausible-but-wrong neighbors (the store entry
    // points guard this; pqTopK's internal battery must refuse too)
    require(cents.nonEmpty && cents.forall(_.length == dim),
      s"pqProbeOrder: query dim $dim does not match the centroid dim " +
        s"${cents.headOption.map(_.length).getOrElse(0)}")
    var qn0 = 0.0
    qv.foreach(x => qn0 += x.toDouble * x.toDouble)
    val qNorm = math.sqrt(qn0)
    cents.indices
      .sortBy { c =>
        var dot = 0.0; var cn = 0.0; var i = 0
        val m = math.min(dim, cents(c).length)
        while (i < m) {
          dot += qv(i).toDouble * cents(c)(i).toDouble
          cn += cents(c)(i).toDouble * cents(c)(i).toDouble
          i += 1
        }
        val cos0 = dot / (qNorm * math.sqrt(cn))
        val cos = if (java.lang.Double.isNaN(cos0)) Double.NegativeInfinity else cos0
        (-cos, c)
      }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
  }

  /** Driver-side ADC table for a query: table(m)(c) = dot of the query's
    * m-th sub-vector with codebook centroid c — each entry the exact
    * index-ascending fold [[graft.functions.PqAdcDirect]] runs in-kernel,
    * so the table form ([[pqTopK]]) and the direct form (the
    * persisted-index search) are bit-identical. */
  private def pqAdcTable(qv: Array[Float],
                         books: Array[Array[Array[Float]]])
      : Array[Array[Double]] = {
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

  /** IVF-PQ ANN top-k — the compressed 100 TB path (Jégou et al. 2011,
    * the FAISS `IVFx,PQy` architecture): coarse cells bound WHICH vectors
    * a query touches, product quantization bounds the BYTES each touch
    * costs, and an exact re-rank of the short list restores true cosines.
    *
    *  1. coarse quantizer: [[kmeansCentroidArrays]] cells; the corpus
    *     assigns with nProbe = 1, queries probe `nProbe` cells — but here
    *     the probed cells become a FILTER on the encoded corpus (query
    *     cells are computed driver-side from the tiny centroid matrix),
    *     not a join: with the encoded corpus partitioned/clustered by
    *     cell, a real deployment prunes partitions instead of shuffling;
    *  2. PQ encode: one scan → (id, cell, codes, |v|) — M ints + a float
    *     per vector; the raw vectors never enter the candidate path;
    *  3. ADC: per query, an M·K dot-product table (driver, microseconds)
    *     scores every candidate as Σ table(code) / (|q|·|v|) — approximate
    *     COSINE (norms are exact, stored at encode time), in one codegen'd
    *     scan over the probed cells;
    *  4. refine: the top `k·refine` ADC candidates per query (two-stage
    *     window) rejoin their true vectors for an exact cosine re-rank —
    *     output rows carry EXACT cosines with the shared deterministic
    *     (cosine desc, id asc) tie rule, so [[topKPropertyVerdict]]
    *     applies unchanged.
    *
    * `queries` must be a driver-sized battery (vectors are collected to
    * build the ADC tables). */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int = 10, m: Int = 8, nCentroids: Int = 16,
             nCells: Int = 16, nProbe: Int = 8, kmeansIters: Int = 2,
             refine: Int = 4): DataFrame = {
    val qProj = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .filter(col("__qv").isNotNull)
    val qRows = qProj.collect()
    require(qRows.nonEmpty, "pqTopK: empty query battery")
    val dim = qRows.head.getAs[scala.collection.Seq[Float]]("__qv").length
    // a malformed battery must refuse, not probe/score on a prefix (the
    // store search forms' guard, mirrored here)
    qRows.foreach { r =>
      val d = r.getAs[scala.collection.Seq[Float]](1).length
      require(d == dim,
        s"pqTopK: query '${r.get(0)}' has dim $d, battery head has dim $dim")
    }
    // r18: fused trainer — one seed collect and one job per Lloyd round
    // instead of two trainings of (seed + iters) jobs each; models
    // bit-equal to the unfused pair (FusedTrainSpec), so the store-form
    // equality gate (ann_index_search forms_equal) is untouched. The
    // battery's dim (checked above) must match the corpus dim the seeds
    // carry — trainIvfPq re-checks divisibility on the corpus side.
    val (cellIds, cents, books) = trainIvfPq(corpus, corpusId, corpusVec,
      nCells, m, nCentroids, kmeansIters, requireTag = "pqTopK")
    // r19 (ADVICE r18): fail FAST on a battery whose dim differs from the
    // corpus — before trainIvfPq moved the divisibility check to the
    // corpus side, this refused at training; without the guard it would
    // surface later in pqAdcTable (index error if the battery is shorter,
    // silently truncated ADC scores if longer)
    require(cents.nonEmpty && cents(0).length == dim,
      s"pqTopK: battery vectors have dim $dim but the corpus has dim " +
        s"${if (cents.isEmpty) "<none>" else cents(0).length.toString}")

    import org.apache.spark.sql.GraftColumnBridge
    val codes = GraftColumnBridge.column(graft.functions.PqEncode(
      GraftColumnBridge.expression(col("__cv")), books))
    // persisted: every query's candidate branch reads this projection —
    // without the cache the full assignment+encode scan re-runs per query.
    // Norms via the codegen'd vec_dot kernel (the interpreted HOF fold is
    // the r10 classifier lesson; values identical — same fold order).
    val encoded = CacheScope.untracked.persisted(
      ivfAssignCollected(
          corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
          "__cv", cellIds, cents, nProbe = 1)
        .select(col("neighbor_id"), col("cell"), codes.as("__code"),
          sqrt(graft.functions.VectorFunctions.vec_dot(col("__cv"), col("__cv")))
            .as("__vn")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val perQuery = qRows.map { r =>
      val qid = r.get(0)
      val qv = r.getAs[scala.collection.Seq[Float]](1).toArray
      // probed cells by the SAME rule the corpus was assigned with
      // ([[pqProbeOrder]] — the NearestCells arithmetic and tie rule;
      // an L2 probe order would send queries to cells the cosine
      // partition never put their neighbors in)
      val probed: Seq[Any] = pqProbeOrder(qv, cents).take(nProbe).map(cellIds)
      var qn0 = 0.0
      qv.foreach(x => qn0 += x.toDouble * x.toDouble)
      val qn = math.sqrt(qn0)
      val table = pqAdcTable(qv, books)
      val adc = GraftColumnBridge.column(graft.functions.PqAdcDot(
        GraftColumnBridge.expression(col("__code")), table))
      encoded
        .filter(col("cell").isin(probed: _*))
        .select(typedLit(qid).as("query_id"), col("neighbor_id"),
          (adc / (lit(qn) * col("__vn"))).as("__approx"))
    }.reduce(_ unionByName _)

    // short list by approximate cosine, then exact re-rank
    val shortList = twoStageTopK(perQuery, "query_id",
        col("__approx"), col("neighbor_id"), k * refine, "__ar")
      .select("query_id", "neighbor_id")
    val cVec = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    // rescore from the ALREADY-COLLECTED battery rows, not a re-read of
    // `queries`: a non-deterministic battery (sample(), unordered limit)
    // could diverge between two evaluations, silently dropping queries
    // from the exact re-rank or pairing them with the wrong vectors
    val qVec = broadcast(corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qProj.schema))
    val rescored = shortList.join(cVec, "neighbor_id").join(qVec, "query_id")
      .withColumn("cosine",
        graft.functions.VectorFunctions.vec_cosine(col("__cv"), col("__qv")))
    topKPerQuery(rescored, k)
  }

  /** In-plan property verdict for an approximate top-k result — ONE row of
    * booleans a constant oracle can pin (the pipeline_semdedup convention;
    * approximate neighbor SETS are legitimately parameter- and
    * float-sensitive, so per-row oracles would pin noise, but these four
    * invariants must hold for ANY correct ANN output):
    *
    *  - `k_rows_ok`: every query produced exactly `k` neighbors with ranks
    *    1..k, each rank once, and no query is missing;
    *  - `tie_rule_ok`: rank order IS (cosine desc, neighbor_id asc) — the
    *    deterministic tie rule [[bruteForceTopK]]/[[lshTopK]]/[[ivfTopK]]
    *    share via topKPerQuery;
    *  - `cosine_floor_ok`: every returned neighbor's cosine is within
    *    `slack` of the query's exact brute-force k-th cosine — the quality
    *    floor (measured worst margin at the gate SFs is -0.022 for
    *    IVF(nProbe=8) / -0.0003 for LSH(4 bits, 16 tables), identical at 8
    *    and 200 shuffle partitions; slack 0.1 gives >4× headroom);
    *  - `cosine_exact_ok`: the reported cosine equals a recompute from the
    *    stored vectors bit-for-bit (vec_cosine is a row-local fold — no
    *    partial-aggregation order dependence).
    *
    * The brute-force baseline and all four checks run inside the returned
    * plan; `ann` is locally checkpointed (it feeds four consumers). */
  def topKPropertyVerdict(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      ann: DataFrame, method: String, k: Int = 10, slack: Double = 0.1,
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = ann.localCheckpoint(true)
    val nQueries = queries.select(col(queryId)).distinct().count()
    val perQ = a.groupBy("query_id").agg(
      count(lit(1)).as("n"), min("rank").as("rmin"), max("rank").as("rmax"),
      countDistinct("rank").as("rd"))
    val badShape = perQ.filter(col("n") =!= k || col("rmin") =!= 1 ||
      col("rmax") =!= k || col("rd") =!= k).count()
    val coveredQueries = perQ.count()
    val w = Window.partitionBy("query_id").orderBy("rank")
    val tieViolations = a
      .withColumn("__pc", lag("cosine", 1).over(w))
      .withColumn("__pn", lag("neighbor_id", 1).over(w))
      .filter(col("__pc").isNotNull &&
        !(col("__pc") > col("cosine") ||
          (col("__pc") === col("cosine") && col("__pn") < col("neighbor_id"))))
      .count()
    val kth = bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k)
      .filter(col("rank") === k)
      .select(col("query_id"), col("cosine").as("__kth"))
    val floorViolations = a.join(kth, "query_id")
      .filter(col("cosine") < col("__kth") - slack).count()
    val cv = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val qv = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv")))
    val exactViolations = a.join(cv, "neighbor_id").join(qv, "query_id")
      .filter(graft.functions.VectorFunctions.vec_cosine(col("__cv"), col("__qv"))
        =!= col("cosine")).count()
    import corpus.sparkSession.implicits._
    Seq((method, nQueries, badShape == 0 && coveredQueries == nQueries,
        tieViolations == 0L, floorViolations == 0L, exactViolations == 0L))
      .toDF("method", "n_queries", "k_rows_ok", "tie_rule_ok",
        "cosine_floor_ok", "cosine_exact_ok")
  }
}
