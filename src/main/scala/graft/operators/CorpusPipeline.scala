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
  *   4. near dedup     — MinHash-LSH pairs → connected components
  *                       ([[CorpusPipeline.dupClusters]]) → keep cluster min
  *
  * Every stage is a lazy plan; `clean` returns the cleaned corpus plus a
  * per-stage row-count audit (forced once at the end — one pass per stage,
  * no driver loops). The near-dup component step is a driver union-find
  * for metadata-sized pair sets, else distributed connected components.
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

  /** Connected components over near-dup pairs: `(id, label)` for every id
    * in a pair, each component labelled with its minimum id.
    *
    * Up to `maxDriverPairs` pairs an exact driver-side union-find runs.
    * Above it every id type goes through [[Dedup.connectedComponents]]
    * (large-star/small-star: logarithmic rounds and a loud refusal, never a
    * silent truncation). Integral ids go in as they are. Other ids first get
    * a dense `Long` code per distinct value, numbered in sorted order, so
    * the minimum code of a component is the code of its minimum id.
    */
  def dupClusters(pairs: DataFrame, maxDriverPairs: Long = 1L << 20): DataFrame = {
    // checkpoint the pair table FIRST: it heads an expensive plan (the whole
    // LSH/verify pipeline) and union branches do NOT share subplan results —
    // every downstream branch would re-run it. Lazy: the count below
    // materializes it.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(false)
    // Adaptive execution, same idea as Spark's broadcast-join threshold: the
    // pair table is already materialized, so its size is known for free.
    // Below maxDriverPairs (~16 MB of ids) exact driver-side union-find
    // replaces the distributed rounds' pure job overhead.
    if (p.count() <= maxDriverPairs) return driverUnionFind(p)
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DataType}
    // BOTH id columns must be integral to go in as they are: the output
    // `id` column carries values from both sides, so casting back through
    // id_a's type alone would silently truncate a wider id_b (e.g. Int
    // id_a, Long id_b). Mixed integral widths cast to the WIDER type.
    val integralWidth: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 4, LongType -> 8)
    val typeA = p.schema.fields(0).dataType
    val typeB = p.schema.fields(1).dataType
    if (integralWidth.contains(typeA) && integralWidth.contains(typeB))
      return integralComponents(p,
        if (integralWidth(typeA) >= integralWidth(typeB)) typeA else typeB)
    // Other ids: a range-partitioned sort (no single-partition sort) numbers
    // the distinct ids in order — codes cannot collide, and a component's
    // minimum code maps back to its minimum id. Checkpointed eagerly so the
    // remap is computed once and every join below reads the same codes.
    val ids = p.select(col("id_a").as("id")).union(p.select(col("id_b").as("id"))).distinct()
    val codes = ids.orderBy("id").rdd.zipWithIndex()
      .map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i) }
    val remap = p.sparkSession.createDataFrame(codes,
        StructType(Seq(ids.schema.head, StructField("code", LongType, nullable = false))))
      .localCheckpoint()
    def coded(c: String) =
      remap.select(col("id").as(c), col("code").as(s"${c}_code"))
    val labels = integralComponents(
      p.join(coded("id_a"), "id_a").join(coded("id_b"), "id_b")
        .select(col("id_a_code").as("id_a"), col("id_b_code").as("id_b")),
      LongType)
    labels.join(remap.select(col("code").as("id"), col("id").as("orig_id")), "id")
      .join(remap.select(col("code").as("label"), col("id").as("orig_label")), "label")
      .select(col("orig_id").as("id"), col("orig_label").as("label"))
  }

  /** [[Dedup.connectedComponents]] over integral pair ids, cast back to
    * `idType`, plus the identity label for a node that appears only in
    * self-pairs (CC drops self-pairs; the driver path keeps them). */
  private def integralComponents(p: DataFrame,
                                 idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val cc = Dedup.connectedComponents(p, "id_a", "id_b")
      .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("label"))
    // self-pairs are rare-to-absent in real pair frames, so the anti-join
    // is metadata-sized
    val selfOnly = p.filter(col("id_a") === col("id_b"))
      .select(col("id_a").cast(idType).as("id")).distinct()
      .join(cc, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    cc.unionByName(selfOnly)
  }

  /** Exact connected components on the driver for collectable pair sets:
    * path-halving union-find, then each component labeled with its minimum
    * id — the same (id, label) contract the distributed path produces,
    * minus its per-round job overhead. */
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
