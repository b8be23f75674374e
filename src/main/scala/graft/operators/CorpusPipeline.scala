package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** End-to-end training-corpus cleaning: the composition a 100 TB pretraining
  * pipeline runs, built entirely from the engine's operators.
  *
  * Stages (C4/Gopher-shaped):
  *   1. quality gate   — structural features (TextAnalysis.qualityFeatures)
  *   1b. quality plane — OPTIONAL composed model gate (classifier ∧ Gopher
  *                       ∧ LM census, [[CorpusPipeline.QualityPlane]]) —
  *                       the full CCNet/fineweb-style stack in one scan
  *   2. language gate  — heuristic lang-id agreement or allow-list
  *   3. exact dedup    — content-hash groupBy, deterministic survivor
  *   4. near dedup     — MinHash-LSH pairs → connected components via
  *                       iterated min-neighbor propagation → keep cluster min
  *
  * Every stage is a lazy plan; `clean` returns the cleaned corpus plus a
  * per-stage row-count audit (forced once at the end — one pass per stage,
  * no driver loops). The near-dup component step iterates a bounded number
  * of label-propagation rounds (diameter of dup clusters is tiny in
  * practice; each round is one shuffle).
  */
object CorpusPipeline {

  final case class CleanResult(cleaned: DataFrame, stats: Seq[(String, Long)])

  /** The composed model-based quality plane (classifier ∧ Gopher ∧ LM —
    * the full CCNet/fineweb-style stack) as a `clean()` stage option.
    * The CALLER owns both models: a real deployment trains the classifier
    * on labeled seeds and the LM on a clean REFERENCE corpus (CCNet uses
    * Wikipedia), not on the corpus being cleaned — `clean()` only applies
    * them. Thresholds are integer per-mille floors on the LM's backoff
    * census (hash-exact, engine-portable — the perplexity filter's
    * integer shadow).
    *
    * @param classifierWeights dyadic k/128 weight numerators for
    *        [[TextClassifier.scoreStruct]] (e.g. from
    *        [[TextClassifier.train]]'s quantized model)
    * @param lmModel caller-owned broadcast of the reference LM
    * @param minTriPermille keep needs tri_hits·1000 ≥ n_pos·this
    * @param maxUnkPermille keep needs unk·1000 ≤ n_pos·this */
  final case class QualityPlane(
      classifierWeights: Array[Int],
      classifierBias: Int,
      lmModel: org.apache.spark.broadcast.Broadcast[NgramLm.LmModel],
      minTriPermille: Int = 300,
      maxUnkPermille: Int = 50)

  /** The composed keep-condition of a [[QualityPlane]] — ONE boolean
    * column from three struct-valued scan expressions. Shared verbatim by
    * the batch stage in [[clean]] and the streaming [[qualityFilter]], so
    * batch/stream parity holds by construction. */
  def qualityPlaneCondition(textCol: String, qp: QualityPlane): Column = {
    val c = TextClassifier.scoreStruct(col(textCol), qp.classifierWeights,
      biasNum = qp.classifierBias)
    val l = NgramLm.scoreStruct(col(textCol), qp.lmModel)
    val g = TextAnalysis.gopherStruct(col(textCol))
    c.getField("label") && g.getField("gopher_keep") &&
      l.getField("n_pos") > 0L &&
      l.getField("tri_hits") * 1000L >= l.getField("n_pos") * qp.minTriPermille &&
      l.getField("unk") * 1000L <= l.getField("n_pos") * qp.maxUnkPermille
  }

  /** Apply the composed quality plane as a standalone filter — STATELESS
    * and therefore streaming-safe: all three planes are scan expressions
    * (no joins, no state, no watermark needed — the decontaminateStream
    * precedent), so the same call filters a `readStream` DataFrame with
    * byte-identical keep decisions to the batch stage (parity test in
    * StreamingSpec). Models ride broadcasts/reference objects; a restart
    * re-ships them with the new query. */
  def qualityFilter(docs: DataFrame, textCol: String, qp: QualityPlane): DataFrame =
    docs.filter(qualityPlaneCondition(textCol, qp))

  /** DSIR data selection as a `clean()` stage option (arXiv:2302.03169 —
    * keep documents whose hashed-gram distribution leans toward a TARGET
    * corpus). The CALLER owns the weight table ([[Dsir.importanceWeights]]
    * over target-vs-raw histograms, trained BEFORE the clean — the
    * QualityPlane convention); `clean()` only applies the threshold. A
    * threshold (not the paper's top-k) is the pipeline-stage form: it
    * composes with the other per-row gates in the same scan, needs no
    * global ranking exchange, and is streaming-safe.
    *
    * @param minScore keep needs log importance weight ≥ this (0.0 =
    *        "looks at least as target-like as raw") */
  final case class DsirPlane(weights: Array[Double], minScore: Double = 0.0)

  /** The keep-condition of a [[DsirPlane]] — one codegen'd scan
    * expression ([[Dsir.scoreStruct]], the gates' exact construction),
    * shared by the batch stage and [[dsirFilter]]. */
  def dsirCondition(textCol: String, dp: DsirPlane): Column =
    Dsir.scoreStruct(col(textCol), dp.weights).getField("score") >= dp.minScore

  /** Apply the DSIR plane as a standalone filter — stateless, so the same
    * call filters a `readStream` frame (the [[qualityFilter]] precedent). */
  def dsirFilter(docs: DataFrame, textCol: String, dp: DsirPlane): DataFrame =
    docs.filter(dsirCondition(textCol, dp))

  /** The compression plane — the classic "gzip filter" as a clean()
    * stage: drop documents whose zlib-DEFLATE ratio
    * ([[TextAnalysis.compressionSignals]]) falls outside
    * [minRatio, maxRatio]. Below the floor = templated/repetitive
    * boilerplate the dedup stages won't necessarily catch (repetition
    * WITHIN one document); above the ceiling = minified/base64/
    * binary-ish junk with near-random bytes. The ratio only MEANS
    * entropy once the document dwarfs zlib's ~11-byte stream overhead —
    * a 50-byte legitimate sentence deflates to ratio > 1 on overhead
    * alone — so documents under `minBytes` PASS the plane untouched
    * (length-based gates own that regime). Defaults are deliberately
    * loose — real deployments tune per corpus. */
  final case class CompressionPlane(minRatio: Double = 0.05,
                                    maxRatio: Double = 0.98,
                                    minBytes: Int = 256,
                                    level: Int = 6)

  /** The keep-condition of a [[CompressionPlane]] — one codegen'd scan
    * expression, zero shuffle, streaming-safe. */
  def compressionCondition(textCol: String, cp: CompressionPlane): Column = {
    val raw = octet_length(col(textCol))
    val ratio = graft.functions.TextFunctions.deflate_size(col(textCol), cp.level)
      .cast("double") / raw.cast("double")
    raw < cp.minBytes || (ratio >= cp.minRatio && ratio <= cp.maxRatio)
  }

  /** Apply the compression plane as a standalone filter — stateless, so
    * the same call filters a `readStream` frame. */
  def compressionFilter(docs: DataFrame, textCol: String,
                        cp: CompressionPlane): DataFrame =
    docs.filter(compressionCondition(textCol, cp))

  /** Connected components over near-dup pairs via min-label propagation:
    * every doc starts as its own label; each round adopts the smallest label
    * among itself and its neighbors. Converges in O(cluster diameter)
    * rounds — near-dup clusters are shallow, so `maxRounds` = 5 default.
    *
    * Round shape: self-loop edges fold each node's OWN label into the same
    * min-aggregate that scans its neighbors, so a round is ONE equality join
    * + one map-side-combined min — not a neighbor join plus a second
    * merge-with-own-label join. Convergence is detected from a bit_xor over
    * per-row (id, label) hashes computed in the round's single action — any
    * label move flips that row's term; a 2⁻⁶⁴ hash-collision
    * false-stop is the price of not paying a second join per round, and
    * `maxRounds` bounds the loop either way.
    */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 5,
                  maxDriverPairs: Long = 1L << 20): DataFrame = {
    // Iterated joins double the lineage every round — without truncation the
    // upstream (minhash) would recompute 2^rounds times. localCheckpoint
    // materializes each round's small label table and cuts the plan.
    // lazy checkpoints: the immediately-following action materializes them,
    // so no separate eager job; lineage is still truncated from then on
    // checkpoint the pair table FIRST: it heads an expensive plan (the whole
    // LSH/verify pipeline) and union branches do NOT share subplan results —
    // every downstream branch would re-run it
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    // Adaptive execution, same idea as Spark's broadcast-join threshold: the
    // pair table is already materialized, so its size is known for free.
    // Below maxDriverPairs (~16 MB of ids) exact driver-side union-find
    // replaces 3-5 distributed propagation rounds of pure job overhead;
    // above it, the distributed loop is the only shape that survives.
    if (p.count() <= maxDriverPairs) return driverUnionFind(p)
    // INTEGRAL ids (every production corpus) take the large-star/small-star
    // path (Dedup.connectedComponents): O(log² n) rounds with a
    // NON-INCREASING edge count and a LOUD refusal on non-convergence —
    // the propagation loop below stops silently at maxRounds, which on a
    // deeper-than-maxRounds dup chain returns over-split labels. The
    // propagation branch stays as the fallback for other id types
    // (connectedComponents canonicalizes through Long, which would
    // truncate fractional ids). The caller's round budget maps to the CC
    // bound with a floor of 50: CC rounds are logarithmic (not
    // diameter-bound like propagation's), and its bound is a refusal
    // guard, never a silent truncation knob.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DataType}
    // BOTH id columns must be integral to take the CC path: the output
    // `id` column carries values from both sides, so casting back through
    // id_a's type alone would silently truncate a wider id_b (e.g. Int
    // id_a, Long id_b). Mixed integral widths cast to the WIDER type;
    // anything non-integral falls through to the generic propagation loop.
    val integralWidth: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 4, LongType -> 8)
    val typeA = p.schema.fields(0).dataType
    val typeB = p.schema.fields(1).dataType
    if (integralWidth.contains(typeA) && integralWidth.contains(typeB)) {
      val idType =
        if (integralWidth(typeA) >= integralWidth(typeB)) typeA else typeB
      val cc = Dedup.connectedComponents(p, "id_a", "id_b",
          maxRounds = math.max(maxRounds, 50))
        .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("label"))
      // contract parity with the other two paths: a node appearing ONLY in
      // self-pairs still gets its identity label (CC drops self-pairs);
      // self-pairs are rare-to-absent in real pair frames, so the anti-join
      // is metadata-sized
      val selfOnly = p.filter(col("id_a") === col("id_b"))
        .select(col("id_a").cast(idType).as("id")).distinct()
        .join(cc, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label"))
      return cc.unionByName(selfOnly)
    }
    val undirected = p.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionByName(p.select(col("id_b").as("a"), col("id_a").as("b")))
    // edges/labels read the tiny checkpointed pair table — no further
    // checkpoints needed, their plans are shallow and constant across rounds
    val edges = undirected
      .unionByName(undirected.select(col("a")).distinct().withColumn("b", col("a")))
    def labelSig(df: DataFrame): Long = {
      val r = df.agg(expr("bit_xor(xxhash64(id, label))")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // round 1 fused into initialization: with identity labels the
    // min-over-neighborhood is just min over the (self-looped) edge list —
    // no label join needed
    var labels = edges.groupBy(col("a")).agg(min(col("b")).as("label"))
      .select(col("a").as("id"), col("label"))
      .localCheckpoint(false)
    var round   = 1
    var changed = true
    var prevSig = labelSig(labels)
    while (round < maxRounds && changed) {
      val next = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a")).agg(min(col("nl")).as("label"))
        .select(col("a").as("id"), col("label"))
        .localCheckpoint(false)
      val s = labelSig(next)
      changed = s != prevSig
      prevSig = s
      labels = next
      round += 1
    }
    labels
  }

  /** Exact connected components on the driver for collectable pair sets:
    * path-halving union-find, then each component labeled with its minimum
    * id — the same (id, label) contract the distributed rounds produce,
    * minus their per-round job overhead and round bound. */
  private def driverUnionFind(p: DataFrame): DataFrame = {
    val rows = p.collect()
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case (x: Double, y: Double) => x < y
      case (x, y)                 => String.valueOf(x) < String.valueOf(y)
    }
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are already component minima: unions always keep the smaller id
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    parent.keys.foreach(id => out.add(org.apache.spark.sql.Row(id, find(id))))
    val idType = p.schema.fields(0).dataType
    p.sparkSession.createDataFrame(out,
      StructType(Seq(StructField("id", idType), StructField("label", idType))))
  }

  def clean(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 10,
      minAlphaRatio: Double = 0.5,
      allowedLangs: Seq[String] = Nil,
      nearDupThreshold: Double = 0.8,
      normalize: Boolean = false,
      qualityPlane: Option[QualityPlane] = None,
      dsirPlane: Option[DsirPlane] = None,
      compressionPlane: Option[CompressionPlane] = None,
      langModel: Option[TextClassifier.LangIdModel] = None,
  ): CleanResult = {
    // 0. optional canonical normalization (TextAnalysis.normalizeText):
    // byte-different renderings of the same text (decomposed accents,
    // CRLF, control chars, tab runs) otherwise defeat the exact and
    // shingle dedup stages below. Off by default — it REWRITES the text
    // column, so the cleaned output is the normalized rendering.
    val docs0 =
      if (!normalize) docs
      else docs.withColumn(textCol, TextAnalysis.normalizeText(col(textCol)))
    // 1. structural quality gate. The featurized frame is persisted once and
    // feeds the audit counts, the gate filter, and (via the checkpointed
    // exact-dedup below) everything downstream — ONE corpus scan for the
    // whole clean, not one per consumer. Unpersisted before returning (all
    // downstream plans are checkpoint-cut by then).
    val qualityCond = col("n_tokens") >= minTokens && col("alpha_ratio") >= minAlphaRatio
    val feats = TextAnalysis.qualityFeatures(docs0, textCol)
      .withColumn("__pass", qualityCond)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = feats
      .agg(count(lit(1)).as("n0"),
        sum(when(col("__pass"), 1L).otherwise(0L)).as("n1")).head()
    val n0 = counts.getLong(0)
    val n1 = counts.getLong(1)
    val quality = feats.filter(col("__pass"))
      .select(docs0.columns.map(col): _*)

    // 1b. optional model-based quality plane: classifier ∧ Gopher ∧ LM
    // census, all three struct-valued SCAN expressions composed in one
    // filter over the (persisted) featurized frame — the same
    // zero-join/zero-shuffle shape the pipeline_quality_filter gate pins.
    // A document survives iff the classifier keeps it AND the Gopher
    // structural rules pass AND the LM backoff census clears the integer
    // per-mille floors.
    val planed = qualityPlane match {
      case None     => quality
      case Some(qp) => quality.filter(qualityPlaneCondition(textCol, qp))
    }
    val n1b = if (qualityPlane.isEmpty) n1 else planed.count()

    // 1c. optional DSIR selection: keep docs whose hashed-gram log
    // importance weight toward the caller's target corpus clears the
    // threshold — one codegen'd scan expression, no exchange
    val selected0 = dsirPlane match {
      case None     => planed
      case Some(dp) => planed.filter(dsirCondition(textCol, dp))
    }
    val n1c = if (dsirPlane.isEmpty) n1b else selected0.count()

    // 1d. optional compression plane (the "gzip filter"): drop documents
    // whose DEFLATE ratio marks them as within-document boilerplate or
    // near-random junk — one codegen'd scan expression, no exchange
    val selected = compressionPlane match {
      case None     => selected0
      case Some(cp) => selected0.filter(compressionCondition(textCol, cp))
    }
    val n1d = if (compressionPlane.isEmpty) n1c else selected.count()

    // 2. language gate (count only paid when the gate is active): the
    // TRAINED one-vs-rest model when the caller provides one (the CCNet
    // order — fastText langid before quality filtering), else the n-gram
    // heuristic; both are pure scan expressions, zero joins
    val langed =
      if (allowedLangs.isEmpty) selected
      else langModel match {
        case Some(m) => selected.filter(
          TextClassifier.langIdStruct(col(textCol), m).getField("lang")
            .isin(allowedLangs: _*))
        case None => selected.filter(TextAnalysis.langId(col(textCol)).isin(allowedLangs: _*))
      }
    val n2 = if (allowedLangs.isEmpty) n1d else langed.count()

    // 3. exact dedup (deterministic survivor = min id); materialized once —
    // it feeds the count, the LSH pass, and the final anti-join
    val exact = Dedup.exact(langed, Seq(textCol), idCol).localCheckpoint(false)
    val n3 = exact.count()

    // 4. near dedup: LSH candidates verified by EXACT n-gram jaccard →
    // components → keep each cluster's min id. The exact verify makes the
    // stage independent of the minhash estimator (and oracle-checkable);
    // candidate generation is still the near-linear LSH equality join.
    // The scope collects the dedup internals' persisted tables
    // (signatures, candidate pairs) so repeated clean() calls in a
    // long-lived session don't accumulate executor storage.
    val scope = new CacheScope
    val pairs = Dedup.ngramJaccard(exact, textCol, idCol, threshold = nearDupThreshold,
      scope = scope)
    val clusters = dupClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("label")).select(col("id").as(idCol))
    val cleaned = exact.join(losers, Seq(idCol), "left_anti")
    val n4 = cleaned.count()
    // everything downstream is checkpoint-cut by now (dupClusters
    // checkpoints the pair table; exact is checkpointed above)
    scope.release()
    feats.unpersist(false)

    // the quality_plane row appears only when the stage ran, so default
    // callers' stats (and the gate oracles pinning them) are unchanged
    val planeRow: Seq[(String, Long)] =
      if (qualityPlane.isEmpty) Nil else Seq("quality_plane" -> n1b)
    val dsirRow: Seq[(String, Long)] =
      if (dsirPlane.isEmpty) Nil else Seq("dsir" -> n1c)
    val comprRow: Seq[(String, Long)] =
      if (compressionPlane.isEmpty) Nil else Seq("compression" -> n1d)
    CleanResult(cleaned, Seq("input" -> n0, "quality" -> n1) ++ planeRow ++ dsirRow ++
      comprRow ++ Seq("lang" -> n2, "exact_dedup" -> n3, "near_dedup" -> n4))
  }
}
