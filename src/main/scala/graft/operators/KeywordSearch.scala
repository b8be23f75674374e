package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import scala.collection.immutable.ListMap

import graft.sources.StoreMeta

/** Batch keyword retrieval over the corpus: Okapi BM25 top-k per query —
  * the lexical sibling of [[Similarity]]'s embedding search, and the shape
  * a training-data pipeline actually runs (score the WHOLE corpus against
  * a fixed query battery: topic probes, contamination probes, eval-set
  * look-alikes), not an online serving index.
  *
  * Scale shape:
  *  - ONE corpus scan computes each doc's term-frequency vector over the
  *    union of all query vocabularies ([[graft.functions.TermCounts]] —
  *    a codegen'd kernel, zero shuffle) plus its length; that PROJECTED
  *    (id, tf, dl) frame — ints only, no text — is persisted and feeds
  *    both the stats pass and the scoring pass, so corpus bytes are read
  *    once no matter how many queries run;
  *  - corpus statistics (N, avgdl, per-term document frequencies) are one
  *    map-side-combined aggregation over the projection → a driver-side
  *    idf table baked into the scoring expressions as literals (a few
  *    doubles — never a join);
  *  - scoring is pure per-row arithmetic; docs matching NO query term are
  *    filtered before any exchange, so the top-k windows see only the
  *    posting-bearing slice (at web scale: the tiny fraction containing a
  *    query term), then the two-stage (partition-local prune → global
  *    rank) top-k bounds the final shuffle at k·partitions rows per query
  *    — the [[Similarity]] topKPerQuery design.
  *
  * Scoring (Robertson et al., TREC-3 Okapi; the Lucene-default variant):
  *   idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))
  *   score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * Per-term contributions add in QUERY TERM ORDER (row-local, fixed),
  * so scores are bit-deterministic; ranks tie-break on doc id asc.
  *
  * Query strings tokenize with the corpus tokenizer's contract
  * (lowercased whitespace words); duplicate terms in one query contribute
  * once per occurrence, as BM25's tf-in-query weighting degenerates to
  * with short queries.
  */
object KeywordSearch {

  /** Vocabulary threshold for [[bm25Batch]]'s IN-SCAN posting build
    * (the sparse [[graft.functions.TermPostings]] kernel, r15 — binary
    * search over the sorted term table, O(tokens·log V) per row): past
    * it, the build falls back to the full-corpus token explode +
    * semi-join. The cap bounds the driver-side vocabulary collect and
    * the term table riding each task binary (65,536 terms ≈ 1 MB — the
    * ivfAssign centroid-cap scale), NOT kernel arithmetic: measured at
    * sf0.1 the kernel path still beats the explode at 128k terms, so
    * the cap is a memory/plan-size bound, not a perf crossover. (r13/r14
    * capped this at 1,024 because the dense TermCounts kernel paid
    * O(V) per row to materialize + posexplode the count vector.) */
  private[operators] val KernelVocabCap = 65536

  /** Vocabulary threshold for [[bm25SearchIndexed]]'s posting-store
    * pruning: at or below it the battery vocabulary collects (bounded)
    * and pushes into the posting scan as a `term IN (…)` filter —
    * row-group min/max skipping over the term-sorted layout; past it the
    * vocabulary stays data (semi-join). Deliberately SMALLER than
    * [[KernelVocabCap]]: parquet converts an IN past
    * `spark.sql.parquet.pushdown.inFilterThreshold` into a min/max range
    * whose skipping power decays with battery spread, while the sparse
    * kernel's cost does not grow with V at all — the two branches
    * optimize different resources and earn different caps (r15; they
    * shared one 1,024 cap through r14). */
  private[operators] val SmallVocabCap = 1024

  /** Driver-side idf — the ONE copy of the formula (bm25ModelFromIndex
    * and statsOf both call it; [[retrieve]] mirrors it as the in-plan
    * expression). StrictMath, NOT math.log: Spark's in-plan `log`
    * evaluates StrictMath.log, and the JIT's Math.log intrinsic differs
    * by 1 ulp on ~10% of idf arguments (probed r14) — this is what
    * keeps all execution forms' scores bit-identical on real corpora,
    * not just synthetic ones. */
  private def idfOf(n: Long, df: Double): Double =
    StrictMath.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5))

  /** Frozen corpus statistics + query battery for BM25 scoring — what a
    * deployment computes ONCE on a reference corpus and then applies to
    * any batch or stream ([[bm25Score]]). `idf` indexes [[terms]]
    * (sorted-distinct union of all query vocabularies). */
  final case class Bm25Model(
      k1: Double, b: Double, avgdl: Double,
      terms: Seq[String], idf: Array[Double],
      queries: Seq[(String, Seq[String])])

  /** [[Dedup.tokens]] of a query on the driver: lowercased, then split by
    * the corpus side's own kernel ([[graft.functions.Tokenize]]), so a
    * battery tokenizes as the documents it scores. */
  private def qTokens(s: String): Seq[String] =
    graft.functions.Tokenize.stringTokens(s.toLowerCase).toSeq

  private def parseBattery(queries: Seq[(String, String)]): Seq[(String, Seq[String])] = {
    require(queries.nonEmpty, "bm25: empty query battery")
    val perQuery = queries.map { case (qid, qtext) => (qid, qTokens(qtext)) }
    perQuery.foreach { case (qid, ts) =>
      require(ts.nonEmpty, s"bm25: query '$qid' has no terms") }
    perQuery
  }

  /** Build a [[Bm25Model]] from a reference corpus: one scan computes the
    * tf/dl projection, one aggregation derives N / avgdl / per-term df. */
  def bm25Model(corpus: DataFrame, textCol: String,
                queries: Seq[(String, String)],
                k1: Double = 1.2, b: Double = 0.75): Bm25Model = {
    val perQuery = parseBattery(queries)
    val allTerms = perQuery.flatMap(_._2).distinct.sorted
    import org.apache.spark.sql.GraftColumnBridge
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
    val tf = GraftColumnBridge.column(graft.functions.TermCounts(
      GraftColumnBridge.expression(toks), allTerms))
    val projected = corpus.select(tf.as("__tf"), size(toks).cast(LongType).as("dl"))
    val (n, avgdl, idf) = statsOf(projected, allTerms.size)
    Bm25Model(k1, b, avgdl, allTerms, idf, perQuery)
  }

  private def statsOf(projected: DataFrame, nTerms: Int): (Long, Double, Array[Double]) = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
        (0 until nTerms).map(i =>
          sum(when(element_at(col("__tf"), i + 1) > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val statsRow = projected.agg(aggs.head, aggs.tail: _*).head()
    val n = statsRow.getLong(0)
    require(n > 0, "bm25: empty corpus")
    val avgdl = statsRow.getLong(1).toDouble / n.toDouble
    val idf = (0 until nTerms).map { i =>
      idfOf(n, statsRow.getLong(2 + i).toDouble)
    }.toArray
    (n, avgdl, idf)
  }

  /** Per-term contribution sum in QUERY TERM ORDER over a `__tf`/`dl`
    * projection — shared verbatim by the batch top-k and the streaming
    * scorer, so their scores are bit-identical. */
  private def scoreOf(terms: Seq[String], termIdx: Map[String, Int],
                      idf: Array[Double], k1: Double, norm: Column): Column =
    terms.map { t =>
      val i = termIdx(t)
      val tfc = element_at(col("__tf"), i + 1).cast(DoubleType)
      lit(idf(i)) * tfc * lit(k1 + 1.0) / (tfc + norm)
    }.reduce(_ + _)

  private def tfTotalOf(terms: Seq[String], termIdx: Map[String, Int]): Column =
    terms.distinct.map(t => element_at(col("__tf"), termIdx(t) + 1).cast(LongType))
      .reduce(_ + _)

  /** Score a document frame — batch OR `readStream` — against a frozen
    * [[Bm25Model]]: (query_id, doc_id, score, dl, tf_total) rows for
    * docs carrying at least one query term. STATELESS (one codegen'd tf
    * kernel + literal arithmetic per row; the model rides the plan), so
    * the same call is the streaming twin with byte-identical scores —
    * no state store, no watermark (the qualityFilter precedent). Top-k
    * ranking needs ordering and is the BATCH operator's job; a stream
    * consumer windows the scored rows downstream. */
  def bm25Score(docs: DataFrame, textCol: String, idCol: String,
                model: Bm25Model): DataFrame = {
    val termIdx = model.terms.zipWithIndex.toMap
    import org.apache.spark.sql.GraftColumnBridge
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
    val tf = GraftColumnBridge.column(graft.functions.TermCounts(
      GraftColumnBridge.expression(toks), model.terms))
    val base = docs.select(col(idCol).as("doc_id"), tf.as("__tf"),
      size(toks).cast(LongType).as("dl"))
    val norm = lit(model.k1 * (1 - model.b)) +
      lit(model.k1 * model.b / model.avgdl) * col("dl").cast(DoubleType)
    model.queries.map { case (qid, ts) =>
      base
        .withColumn("__s", scoreOf(ts, termIdx, model.idf, model.k1, norm))
        .filter(col("__s") > 0.0)
        .select(lit(qid).as("query_id"), col("doc_id"), col("__s").as("score"),
          col("dl"), tfTotalOf(ts, termIdx).as("tf_total"))
    }.reduce(_ unionByName _)
  }

  /** Top-k BM25 hits per query: (query_id, rank, doc_id, score, dl,
    * tf_total). `queries` is a driver-side battery (id → text) — query
    * vocabularies ride the plan as expression literals, so the battery
    * must be human-sized (hundreds of terms, not millions; past that,
    * use [[bm25Batch]] — the inverted-index join form whose battery is
    * data, with bit-identical scores). */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: Seq[(String, String)], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perQuery = parseBattery(queries)
    val allTerms: Seq[String] =
      perQuery.flatMap(_._2).distinct.sorted // deterministic kernel layout
    val termIdx: Map[String, Int] = allTerms.zipWithIndex.toMap

    import org.apache.spark.sql.GraftColumnBridge
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
    val tf = GraftColumnBridge.column(graft.functions.TermCounts(
      GraftColumnBridge.expression(toks), allTerms))
    // persisted: the int projection feeds BOTH the stats aggregation and
    // every query's scoring branch — the corpus text is read exactly once
    // no matter the battery size (bm25Score by contrast recomputes tf
    // inline: it serves streams, which cannot persist)
    val projected = persisted(
      docs.select(col(idCol).as("doc_id"), tf.as("__tf"),
        size(toks).cast(LongType).as("dl")))
    val (_, avgdl, idf) = statsOf(projected, allTerms.size)

    // per-row length normalization, shared by every term of every query
    val norm = lit(k1 * (1 - b)) + lit(k1 * b / avgdl) * col("dl").cast(DoubleType)
    val scored = perQuery.map { case (qid, ts) =>
      projected
        .withColumn("__s", scoreOf(ts, termIdx, idf, k1, norm))
        // zero-score docs carry no query term: pruned before any exchange
        .filter(col("__s") > 0.0)
        .select(lit(qid).as("query_id"), col("doc_id"), col("__s").as("score"),
          col("dl"), tfTotalOf(ts, termIdx).as("tf_total"))
    }.reduce(_ unionByName _)

    // shared bounded-heap deterministic top-k (Similarity.twoStageTopK):
    // partial heaps prune map-side; the final merge sees ≤ k·partitions
    // survivors per query
    Similarity.twoStageTopK(scored, "query_id",
        col("score"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("dl"), col("tf_total"))
  }

  /** INVERTED-INDEX BM25 top-k — [[bm25TopK]]'s scale sibling for
    * batteries beyond the literal-plan contract. The battery is a
    * DATAFRAME of (query id, query text): a contamination-probe battery
    * of 10⁴–10⁶ queries (the realistic eval-decontamination shape) is
    * data, not plan — the plan is ONE fixed shape regardless of battery
    * size, where [[bm25TopK]] plans a union branch and an O(|terms|)
    * aggregate row per query and hits Janino/plan-size cliffs first.
    *
    * Relational form of the classic posting traversal:
    *  - battery → (query_id, ord, term) occurrence rows (duplicate terms
    *    contribute once per occurrence — the literal form's semantics;
    *    `ord` is the term's position, `first_occ` marks one row per
    *    distinct term for the integer tf_total);
    *  - corpus → POSTING table: one sparse in-scan kernel
    *    ([[graft.functions.TermPostings]] — binary-search probe, emits
    *    only matched (term, cnt) pairs) for vocabularies up to
    *    [[KernelVocabCap]]; past it, explode tokens + vocabulary
    *    semi-join + one map-side-combinable groupBy (vocabulary stays
    *    data). Either way the persisted postings are ints + matched
    *    terms only — corpus text is read twice (stats, postings), but
    *    never shuffled;
    *  - per-term df → in-plan idf (same doubles as the literal path: the
    *    identical formula through the same JVM `ln`);
    *  - the RETRIEVAL JOIN: occurrences ⋈ postings on term — its output
    *    is Σ_t |q_t|·df_t, the true posting-traversal cost (a stop-word
    *    probe term is the classic skew key; AQE's skew-join split
    *    handles it), then groupBy (query_id, doc_id) folds contributions
    *    in QUERY TERM ORDER (sort_array over (ord, contrib) structs →
    *    left-to-right `aggregate`), making scores BIT-IDENTICAL to
    *    [[bm25TopK]]'s ordered literal sums: a term absent from a doc
    *    contributes exactly +0.0 there, which preserves float bits.
    *
    * Output and tie rule match [[bm25TopK]] exactly. Queries with no
    * tokens (or no corpus-matching term) simply rank nothing — a
    * million-probe battery must not abort on one blank probe, where the
    * literal form refuses its whole driver-side battery. */
  def bm25Batch(docs: DataFrame, textCol: String, idCol: String,
                queries: DataFrame, qidCol: String, qtextCol: String,
                k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                kernelVocabCap: Int = KernelVocabCap): DataFrame = {
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))

    // persisted: occurrence rows feed the vocabulary AND the retrieval join
    val qTerms = batteryTerms(queries, qidCol, qtextCol)
    val vocab = qTerms.select("term").distinct()

    // ONE probe action computes the corpus statistics (N, avgdl) AND the
    // battery geometry (max ord, distinct-term count) as a two-row union
    // — r12 ran these as three separate pre-jobs per call. Zero-token
    // docs count in N/avgdl even though they never reach the posting
    // table. The id-uniqueness guard rides the same aggregation: on
    // duplicate ids the two posting-build paths below diverge (the
    // explode form merges duplicate rows into one posting, the kernel
    // form keeps one per row) and the per-ord uniqueness the reduction
    // relies on breaks — refuse loudly. The union also materializes the
    // qTerms persist before the retrieval join reuses it.
    val docStats = docs
      .select(col(idCol).as("__id"), size(toks).cast(LongType).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"),
        countDistinct(col("__id")).as("nid"))
      .select(col("n"), col("sumdl"), col("nid"),
        lit(null).cast("int").as("max_ord"), lit(null).cast("long").as("n_terms"))
    val qStats = qTerms
      .agg(max(col("ord")).as("max_ord"), countDistinct(col("term")).as("n_terms"))
      .select(lit(null).cast("long").as("n"), lit(null).cast("long").as("sumdl"),
        lit(null).cast("long").as("nid"), col("max_ord"), col("n_terms"))
    val probe = docStats.unionByName(qStats).collect()
    require(probe.length == 2, s"bm25: probe union returned ${probe.length} rows")
    val (dRow, qRow) = if (probe(0).isNullAt(0)) (probe(1), probe(0)) else (probe(0), probe(1))
    val n = dRow.getLong(0)
    require(n > 0, "bm25: empty corpus")
    require(dRow.getLong(2) == n,
      s"bm25: corpus has ${n - dRow.getLong(2)} duplicate '$idCol' rows — " +
        "posting semantics are per-document; dedupe ids first")
    val avgdl = dRow.getLong(1).toDouble / n.toDouble
    val maxOrd = if (qRow.isNullAt(3)) -1 else qRow.getInt(3)
    val nTerms = if (qRow.isNullAt(4)) 0L else qRow.getLong(4)

    // ADAPTIVE posting build (both paths emit identical rows):
    //  - vocabulary within the kernel cap (every realistic battery —
    //    10⁵ distinct probe terms covers a 10⁴–10⁶-probe
    //    decontamination sweep, whose probes share terms heavily): ONE
    //    codegen'd sparse TermPostings scan — binary-search probe, no
    //    token explode, no corpus-volume shuffle, per-row output only
    //    the matched (term, cnt) pairs (the r13 dense-kernel path paid
    //    O(|vocab|) per row to materialize + posexplode the count
    //    vector, which is why its cap sat at 1,024);
    //  - beyond the cap (vocabulary too large to collect / ride tasks):
    //    explode + vocabulary semi-join + map-side-combined groupBy —
    //    vocabulary stays DATA, the plan stays constant-size.
    // the probe already counted distinct terms, so the term pull itself
    // runs ONLY in the small case — a cap-bounded collect over the
    // persisted occurrence rows; a million-term battery never collects
    val smallVocab: Option[Seq[String]] =
      if (nTerms > 0 && nTerms <= kernelVocabCap)
        Some(vocab.collect().map(_.getString(0)).sorted.toSeq)
      else None
    val postingRows = smallVocab match {
      case Some(terms) =>
        import org.apache.spark.sql.GraftColumnBridge
        val tc = GraftColumnBridge.column(graft.functions.TermPostings(
          GraftColumnBridge.expression(toks), terms))
        docs.select(col(idCol).as("doc_id"), size(toks).cast(LongType).as("dl"),
            explode(tc).as("tc"))
          .select(col("tc.term").as("term"), col("doc_id"),
            col("tc.cnt").cast(LongType).as("tf"), col("dl"))
          // spread the postings: the retrieval join builds on the (tiny,
          // broadcast) battery and STREAMS this side, fanning each posting
          // out by its matching query occurrences — left at the corpus
          // scan's few input partitions, a 19M-row fan-out plus its partial
          // aggregation ran on two cores (measured ~2× this whole query).
          // r18: spread by doc_id ALONE — hashpartitioning(doc_id)
          // satisfies the downstream (query_id, doc_id) reduction's
          // ClusteredDistribution, so when the battery broadcasts, the
          // per-(query, doc) pivot aggregation runs WITHOUT its own
          // Exchange of the contribution-volume rows (4.9M rows at the
          // sf0.1 1k battery; measured the largest single stage of this
          // query). Same even spread (doc_id hashes uniformly); a huge
          // battery that shuffle-joins instead re-partitions by term
          // anyway, exactly as before.
          .repartition(col("doc_id"))
      case None =>
        docs.select(col(idCol).as("doc_id"), size(toks).cast(LongType).as("dl"),
            explode(toks).as("term"))
          .join(vocab, Seq("term"), "left_semi")
          .groupBy("term", "doc_id")
          .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
          .select(col("term"), col("doc_id"), col("tf"), col("dl"))
          // r18: posting-volume re-spread by doc_id so the downstream
          // (query_id, doc_id) pivot reduction is exchange-free under a
          // broadcast battery (see the kernel branch's note) — postings
          // are ints, orders of magnitude fewer bytes than the
          // contribution rows that exchange would carry
          .repartition(col("doc_id"))
    }
    val postings = persisted(postingRows)
    // materialize the posting cache BEFORE planning the retrieval (r18):
    // a cold cache hides its hashpartitioning(doc_id) behind an
    // unfinished AQE subplan, so the planner re-inserts the
    // (query_id, doc_id) Exchange of the CONTRIBUTION-volume rows the
    // doc_id spread exists to avoid; a materialized cache reports its
    // partitioning and the pivot reduction plans exchange-free. Same
    // total compute — the cache is built once either way.
    postings.count()
    retrieve(qTerms, postings, n, avgdl, maxOrd, k1, b, k)
  }

  /** Every intermediate this object persists: MEMORY_AND_DISK in
    * [[CacheScope.untracked]]'s bounded FIFO (the returned lazy plans
    * still reference them, so no operator here can unpersist its own). */
  private def persisted(df: DataFrame): DataFrame =
    CacheScope.untracked.persisted(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Battery → persisted (query_id, ord, term, first_occ) occurrence
    * rows — the shared front half of [[bm25Batch]] and
    * [[bm25SearchIndexed]]. */
  private def batteryTerms(queries: DataFrame, qidCol: String,
                           qtextCol: String): DataFrame = {
    val qToks = coalesce(Dedup.tokens(col(qtextCol)), array().cast("array<string>"))
    val wFirst = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "term").orderBy("ord")
    persisted(
      queries.select(col(qidCol).as("query_id"), posexplode(qToks))
        .withColumnRenamed("pos", "ord").withColumnRenamed("col", "term")
        .withColumn("first_occ", row_number().over(wFirst) === 1))
  }

  /** The RETRIEVAL tail shared by [[bm25Batch]] and [[bm25SearchIndexed]]:
    * postings → in-plan idf → occurrence⋈posting contributions → the
    * ord-ordered per-(query, doc) reduction → two-stage top-k. `postings`
    * must be unique per (term, doc_id) and carry (term, doc_id, tf, dl). */
  private def retrieve(qTerms: DataFrame, postings: DataFrame, n: Long,
                       avgdl: Double, maxOrd: Int, k1: Double, b: Double,
                       k: Int): DataFrame = {
    // per-term document frequency → idf (postings are unique per
    // (term, doc), so df is a plain count); same expression shape as the
    // driver-side idf of the literal path
    val termStats = postings.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"), log(lit(1.0) +
        (lit(n.toDouble) - col("df").cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))).as("idf"))

    val norm = lit(k1 * (1 - b)) + lit(k1 * b / avgdl) * col("dl").cast(DoubleType)
    val tfc  = col("tf").cast(DoubleType)
    val contrib = qTerms
      .join(postings, Seq("term"))
      .join(termStats, Seq("term"))
      .withColumn("__c", col("idf") * tfc * lit(k1 + 1.0) / (tfc + norm))

    // The per-(query, doc) reduction must add contributions in ORD order
    // (the bit-parity contract with the literal form). Each ord occurs at
    // most once per group (qTerms has one row per (query, ord); ≤1
    // posting joins it per doc), which licenses TWO bit-identical shapes:
    //  - SHORT queries (maxOrd < 32 — every realistic probe battery):
    //    a plain column-pivoted HashAggregate — `sum(when(ord = i, c))`
    //    isolates each position's single contribution exactly, and the
    //    final score re-adds the coalesced columns in ord order. Fully
    //    codegen'd, map-side-combinable, no object aggregation: the
    //    collect_list form measured ~6× slower on a 19M-contribution
    //    battery (object agg + per-group sort);
    //  - anything longer: collect_list + the native OrderedContribSum
    //    fold (itself bit-identical to aggregate(array_sort(...))).
    import org.apache.spark.sql.GraftColumnBridge
    val dlAndTf = Seq(max(col("dl")).as("dl"),
      sum(when(col("first_occ"), col("tf")).otherwise(0L)).as("tf_total"))
    val scored =
      if (maxOrd >= 0 && maxOrd < 32) {
        val sums = (0 to maxOrd).map(i => sum(when(col("ord") === i, col("__c"))).as(s"__s$i"))
        val aggs = sums ++ dlAndTf
        contrib.groupBy("query_id", "doc_id")
          .agg(aggs.head, aggs.tail: _*)
          .withColumn("score",
            (0 to maxOrd).map(i => coalesce(col(s"__s$i"), lit(0.0))).reduce(_ + _))
          .select("query_id", "doc_id", "score", "dl", "tf_total")
      } else {
        val aggs = GraftColumnBridge.column(graft.functions.OrderedContribSum(
          GraftColumnBridge.expression(
            collect_list(struct(col("ord").cast("int"), col("__c")))))).as("score") +: dlAndTf
        contrib.groupBy("query_id", "doc_id").agg(aggs.head, aggs.tail: _*)
      }
    Similarity.twoStageTopK(scored, "query_id",
        col("score"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("dl"), col("tf_total"))
  }

  // ---------------------------------------------------------------- index

  /** BM25 POSTING-INDEX store — the maintenance path that makes
    * retrieval affordable over a GROWING corpus: [[bm25Batch]] re-scans
    * the whole corpus per battery (right for one-shot batteries), while
    * a production deployment indexes once and appends deltas — zero
    * corpus re-scans per search, the incremental-dedup-index doctrine on
    * the lexical plane. Layout (batch-dir data, metadata LAST):
    *
    *   <dir>/meta.json                    {"format":"graft-bm25-index",
    *                                       "version":1,"batches":B,
    *                                       "n":N,"sumdl":S,
    *                                       "tombBatches":T,"tombRows":R,
    *                                       "positions":P}
    *   <dir>/postings/b<i>/part-….parquet   (term, doc_id, tf, dl)
    *   <dir>/docs/b<i>/part-….parquet       (doc_id, dl)
    *   <dir>/positions/b<i>/part-….parquet  (term, doc_id, positions) —
    *                                        only when P (phrase search)
    *   <dir>/tombstones/b<i>/part-….parquet (doc_id) — deleted docs;
    *                                        readers anti-join,
    *                                        compaction drops physically
    *
    * Postings carry the FULL vocabulary (unlike bm25Batch's
    * battery-filtered build): the delta projects to (id, dl, tokens)
    * ONCE (persisted), feeding every plane's write.
    * [[bm25SearchIndexed]] reads exactly the meta'd batches, prunes the
    * postings by the battery vocabulary, and runs the SAME retrieval
    * tail as bm25Batch — scores bit-identical to [[bm25TopK]] over the
    * equivalent corpus, which is what the gate pins. Duplicate doc ids
    * (within a delta or vs the store) refuse loudly: posting semantics
    * are per-document. Build, append, delete and compact run the shared
    * store lifecycle ([[graft.sources.StoreMeta.Store]]): every mutation
    * holds the store's writer lease, a rebuild stages the whole new
    * store in a hidden sibling and swaps it in only after its meta
    * commits, and the meta commit is atomic and LAST, so a reader
    * mid-write sees the old consistent snapshot. */
  def bm25IndexBuild(docs: DataFrame, textCol: String, idCol: String,
                     dir: String, overwrite: Boolean = false,
                     positions: Boolean = false): Unit =
    store(docs.sparkSession, dir).build("bm25IndexBuild", overwrite) { staged =>
      val (n, sumdl) = writeIndexBatch(docs, textCol, idCol, staged.toString,
        batch = 0, positions = positions)
      StoreMeta.Meta(batches = 1, n = n, tombBatches = 0, tombRows = 0L,
        ListMap("sumdl" -> sumdl), ListMap("positions" -> positions))
    }

  /** Append a document delta to an existing index — only the DELTA is
    * scanned; existing batch files never rewrite (the concat dim of a
    * posting store is the document set, so append is pure accretion). */
  def bm25IndexAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                      newDocs: DataFrame, textCol: String, idCol: String,
                      lockWaitMs: Long = 0L): Unit =
    store(spark, dir).append("bm25IndexAppend", newDocs, idCol, lockWaitMs) { meta =>
      // the delta inherits the store's positions setting: a positional
      // store's planes must stay aligned batch-for-batch
      writeIndexBatch(newDocs, textCol, idCol, dir, batch = meta.batches,
        positions = hasPositions(meta))
    }

  /** DELETE documents from the index — the takedown/dedup-prune
    * maintenance a production posting store runs daily, without a
    * full-corpus rebuild ([[graft.sources.StoreMeta.Store.delete]]). The
    * meta's n/sumdl subtract the deleted docs' stats at commit time, so
    * idf/avgdl — and therefore every score — are BIT-IDENTICAL to a
    * from-scratch rebuild without the deleted rows (the gate's pin). */
  def bm25IndexDelete(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ids: DataFrame, idCol: String): Unit =
    store(spark, dir).delete("bm25IndexDelete", ids, idCol)

  /** Search the index: zero corpus scans — the battery's vocabulary
    * semi-joins the meta'd posting batches and the shared retrieval tail
    * scores them. Output and tie rule match [[bm25TopK]] exactly. */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                        queries: DataFrame, qidCol: String, qtextCol: String,
                        k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (store, meta) = open(spark, dir)
    import meta.{batches, n}
    require(n > 0, s"bm25SearchIndexed: index at '$dir' holds no documents")
    val qTerms = batteryTerms(queries, qidCol, qtextCol)
    // battery geometry only — corpus facts come from the meta, so the
    // pre-job cost is ONE tiny action over the persisted occurrences
    val g = qTerms.agg(max(col("ord")), countDistinct(col("term"))).collect()(0)
    val maxOrd = if (g.isNullAt(0)) -1 else g.getInt(0)
    val nTerms = g.getLong(1)
    val postings = store.plane("postings", batches)
    // ADAPTIVE vocabulary pruning against the term-sorted store:
    //  - human-sized battery (≤1024 distinct terms): a bounded collect
    //    turns the vocabulary into a pushed `term IN (…)` scan filter —
    //    parquet row-group min/max over the sorted layout skip every
    //    posting slice the battery never asks for;
    //  - million-probe battery: the vocabulary stays DATA — semi-join,
    //    full posting scan (the honest cost of a corpus-scale battery).
    // The term pull is a SECOND small action deliberately: folding it
    // into the geometry agg would need a collect_set over the full
    // occurrence stream, whose per-partition set is unbounded exactly
    // when the battery is large — the collect below runs only under the
    // ≤SmallVocabCap guard, so it is bounded by construction.
    val pruned =
      if (nTerms > 0 && nTerms <= SmallVocabCap) {
        val terms = qTerms.select("term").distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        postings.filter(col("term").isin(terms: _*))
      } else
        postings.join(qTerms.select("term").distinct(), Seq("term"), "left_semi")
    // tombstones anti-join AFTER the vocabulary pruning (delta-sized
    // broadcast against the battery's posting slice, not the store) and
    // BEFORE retrieve's df aggregation — per-term df must equal the
    // rebuild-without-deleted-rows value, like meta's n/avgdl already do
    val live = store.live(pruned, meta)
    // spread the survivors before the retrieval join (the broadcast-
    // battery fan-out inherits this partitioning — the two-core trap);
    // r18: by doc_id alone, so the (query_id, doc_id) pivot reduction
    // downstream needs no Exchange of the contribution rows (the
    // bm25Batch co-partitioning note)
    val filtered = persisted(live.repartition(col("doc_id")))
    // materialize before planning the retrieval so the cache reports its
    // doc_id partitioning — the bm25Batch exchange-elision note
    filtered.count()
    retrieve(qTerms, filtered, n, avgdl(meta), maxOrd, k1, b, k)
  }

  /** QUOTED-PHRASE BM25 top-k over a POSITIONAL index (r15) — the
    * standard production-retrieval ask the tf plane cannot answer: a
    * phrase matches where its tokens occur CONSECUTIVELY, verified from
    * the stored positions, never from the corpus text (zero corpus
    * scans, the store doctrine).
    *
    * Relational adjacency: each occurrence of phrase term `t` at
    * position `p` with phrase ordinal `ord` votes for start `p − ord`;
    * a start where ALL `L` ordinals voted is a phrase occurrence (each
    * (doc, start, ord) pair occurs at most once — a term's positions
    * are distinct — so one map-side-combinable count per (doc, start)
    * decides). The per-doc occurrence count is the phrase's tf, and the
    * phrase scores as ONE Okapi pseudo-term: df = docs containing it,
    * idf/norm from the meta's live n/avgdl, the shared (score desc,
    * doc_id asc) tie rule. The positions scan prunes by pushed
    * `term IN (…)` over the term-sorted layout exactly like the tf
    * plane; tombstoned docs are anti-joined out of both planes.
    * `phrases` is a driver-sized battery (id → phrase text, tokenized
    * with the corpus tokenizer's contract). PLAN SIZE grows linearly in
    * battery size (one positions-scan branch per phrase — unlike the
    * battery-as-data tf forms), which is the right trade for the
    * documented driver-sized batteries (tens of phrases: each branch
    * prunes to ITS terms' posting slices, where a shared scan would read
    * the union); past a few hundred phrases, prefer batching calls —
    * the per-branch plan cost, not the kernel, is what degrades.
    *
    * `slop` (r16) relaxes adjacency to BANDED PROXIMITY — the NEAR-k
    * query, the other standard positional form: phrase ordinal `i` may
    * sit anywhere in `[start + i, start + i + slop]` instead of exactly
    * at `start + i`, and tf counts the distinct matching starts. slop = 0
    * is exact adjacency (bit-identical to the phrase path — same votes,
    * same scoring). Like Lucene's sloppy phrase, small slops permit
    * insertions between terms; transposed neighbors begin to match at
    * slop ≥ 2 (each displaced within its band). The vote generalizes,
    * never a new plane: term `t` at position `p` with ordinal `i` votes
    * starts `p − i − slop … p − i`, and a start with ALL ordinals voting
    * (counted DISTINCT — at slop > 0 two occurrences of one term can
    * vote the same (start, ordinal)) is a match. Known repeat quirk,
    * shared with classic sloppy-phrase scorers: at slop > 0 a SINGLE
    * occurrence of a repeated term can satisfy several of its ordinals
    * when their bands overlap (one "batch" matches "batch batch"~1) —
    * the ordinals vote independently, not injectively over positions;
    * the gate's oracle re-derives exactly this rule. */
  def bm25PhraseTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
                     phrases: Seq[(String, String)], k: Int = 10,
                     k1: Double = 1.2, b: Double = 0.75,
                     slop: Int = 0): DataFrame = {
    val (store, meta) = open(spark, dir)
    require(slop >= 0, s"bm25PhraseTopK: slop must be >= 0, got $slop")
    require(hasPositions(meta),
      s"bm25PhraseTopK: index at '$dir' was built without the positions " +
        "plane — rebuild or compact from a build with positions = true")
    require(meta.n > 0, s"bm25PhraseTopK: index at '$dir' holds no documents")
    val perPhrase = parseBattery(phrases)
    val plane = store.live(store.plane("positions", meta.batches), meta)
    // persisted: the matched (query, doc, tf) rows feed BOTH the df
    // aggregation and the scoring join — without the cache the whole
    // positions scan + double explode + adjacency count re-runs for the
    // second consumer (the batteryTerms/filtered-postings precedent)
    val occurrences = persisted(phraseOccurrences(plane, perPhrase, slop))
    phraseScoreTail(store, meta, occurrences, k, k1, b)
  }

  /** The Okapi pseudo-term scoring tail shared by [[bm25PhraseTopK]] and
    * [[bm25PhraseBatch]] — ONE copy of the float expression shapes, so
    * the two forms' scores are bit-identical structurally, not by
    * parallel maintenance: per-phrase df as an aggregate + broadcast-back
    * (ONE row per phrase — a window over query_id would funnel a common
    * phrase's full match set through one reducer), then idf/norm from the
    * meta's live n/avgdl and the shared (score desc, doc_id asc) tie
    * rule. `occurrences` carries (query_id, doc_id, tf). */
  private def phraseScoreTail(store: StoreMeta.Store, meta: StoreMeta.Meta,
                              occurrences: DataFrame, k: Int,
                              k1: Double, b: Double): DataFrame = {
    val dfTab = occurrences.groupBy("query_id")
      .agg(count(lit(1)).cast(DoubleType).as("__df"))
    val docsPlane = store.live(store.plane("docs", meta.batches), meta)
    val norm = lit(k1 * (1 - b)) +
      lit(k1 * b / avgdl(meta)) * col("dl").cast(DoubleType)
    val tfc = col("tf").cast(DoubleType)
    val scored = occurrences
      .join(broadcast(dfTab), Seq("query_id"))
      .join(docsPlane, Seq("doc_id"))
      .withColumn("__idf", log(lit(1.0) +
        (lit(meta.n.toDouble) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("score", col("__idf") * tfc * lit(k1 + 1.0) / (tfc + norm))
    Similarity.twoStageTopK(
        scored.select("query_id", "doc_id", "score", "dl", "tf"), "query_id",
        col("score"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("dl"), col("tf"))
  }

  /** BATTERY-AS-DATA phrase/NEAR retrieval (r17) — [[bm25PhraseTopK]]'s
    * scale sibling, completing the [[bm25Batch]] doctrine on the
    * POSITIONS plane: the battery is a DATAFRAME of (phrase id, phrase
    * text), and the plan is ONE fixed shape — one positions scan, one
    * occurrence join — regardless of battery size, where the per-phrase
    * form plans a positions-scan branch PER PHRASE and degrades on plan
    * size past a few hundred phrases (its documented bound). This is the
    * decontamination shape: thousands-to-millions of eval-set phrase
    * probes swept against the indexed corpus in one job.
    *
    * Identical semantics, relationally: the battery tokenizes IN-PLAN
    * (same [[Dedup.tokens]] contract as the corpus and as the per-phrase
    * form's driver mirror — the bm25TopK/bm25Batch parity precedent) into
    * (query_id, ord, term) occurrence rows; each position `p` of term `t`
    * joined to an ordinal `ord` votes starts `p − ord − slop … p − ord`;
    * a (query, doc, start) with ALL the phrase's ordinals voting (counted
    * DISTINCT at slop > 0, plain at slop = 0 where votes are unique) is a
    * match, and the per-doc match count is the phrase tf. Phrase length
    * rides the occurrence rows as max(ord)+1 per query. Scores are
    * BIT-IDENTICAL to [[bm25PhraseTopK]] over the same battery (integer
    * tf/df into the SHARED [[phraseScoreTail]]) — the gate's pin.
    *
    * Differences owed to battery-as-data (the bm25Batch conventions): a
    * zero-token phrase ranks nothing instead of refusing the whole
    * battery (a million-probe sweep must not abort on one blank probe),
    * and the vocabulary prunes ADAPTIVELY — ≤ [[SmallVocabCap]] distinct
    * terms collect into a pushed `term IN (…)` over the term-sorted
    * layout (row-group skipping); past it the vocabulary stays data and
    * semi-joins (the honest full-plane cost of a corpus-scale battery). */
  def bm25PhraseBatch(spark: org.apache.spark.sql.SparkSession, dir: String,
                      phrases: DataFrame, qidCol: String, qtextCol: String,
                      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                      slop: Int = 0): DataFrame = {
    val (store, meta) = open(spark, dir)
    require(slop >= 0, s"bm25PhraseBatch: slop must be >= 0, got $slop")
    require(hasPositions(meta),
      s"bm25PhraseBatch: index at '$dir' was built without the positions " +
        "plane — rebuild or compact from a build with positions = true")
    require(meta.n > 0, s"bm25PhraseBatch: index at '$dir' holds no documents")
    // battery → persisted (query_id, ord, term) occurrence rows (the
    // bm25Batch front half); one tiny geometry action decides the
    // vocabulary-pruning branch, exactly like bm25SearchIndexed (r19:
    // the battery row count rides the same action — it pre-filters the
    // vote-volume size gate below)
    val qTerms = batteryTerms(phrases, qidCol, qtextCol)
    val qGeo = qTerms.agg(countDistinct(col("term")), count(lit(1))).collect()(0)
    val nTerms = qGeo.getLong(0)
    val batteryRows = qGeo.getLong(1)
    val smallVocab: Option[Seq[String]] =
      if (nTerms > 0 && nTerms <= SmallVocabCap)
        Some(qTerms.select("term").distinct()
          .collect().map(_.getString(0)).sorted.toSeq)
      else None
    def prunedPlane(name: String): DataFrame = {
      val plane = store.live(store.plane(name, meta.batches), meta)
      smallVocab match {
        case Some(terms) => plane.filter(col("term").isin(terms: _*))
        case None => plane.join(qTerms.select("term").distinct(),
          Seq("term"), "left_semi")
      }
    }
    // RAREST-TERM candidate pruning (the classic posting-list
    // intersection order, relationally): a doc can match a phrase only
    // if it holds ALL the phrase's terms, so only docs holding the
    // phrase's LOWEST-df term need their positions inspected. df comes
    // from the TF plane (one row per (term, doc) — no position arrays,
    // no explode), candidates are an equality join on that one term per
    // query, and only candidate (term, doc) position ARRAYS explode.
    // Without this, a battery probe containing a stop word explodes that
    // word's every corpus position times its battery multiplicity —
    // measured 27 s for a 1k-probe battery at sf0.1, vs ~3 s pruned.
    // A query with a corpus-absent term drops out entirely (df = 0 ⇒ no
    // doc can match — both forms emit nothing for it).
    //
    // r18: the battery's posting slice is persisted — it feeds BOTH the
    // df aggregation and the candidate join, so the cache turns two
    // store reads into one (on an object store, two full slice GET
    // sweeps into one). An eager doc_id co-partitioning of this slice
    // (to elide the downstream vote reductions' exchanges) was measured
    // and REJECTED unconditionally: the extra materialization job cost
    // ~+0.5 s at sf0.1 (3×-interleaved A/B, min 4.47-4.61 s vs
    // 4.01-4.33 s persist-only) against exchange savings the fixture
    // keeps in memory anyway. r19 lands it SIZE-GATED (below): the slice
    // carries tf so the vote volume is estimable from its own stats.
    val postPruned = persisted(prunedPlane("postings").select("term", "doc_id", "tf"))
    // __ctf (the term's total corpus positions among the slice) rides the
    // df aggregation for the size gate's estimate — same shuffle, one
    // extra long per term
    val termDf = postPruned.groupBy("term")
      .agg(count(lit(1)).as("__tdf"), sum(col("tf")).as("__ctf"))
    // per-query rarest term: min over (df, term) — the term tie-break
    // keeps the choice deterministic; an inner join drops absent terms,
    // and the len recheck below drops queries that lost any term to it
    val qDistinct = qTerms.select("query_id", "term").distinct()
    val qLen = qTerms.groupBy("query_id")
      .agg((max(col("ord")) + lit(1)).cast(LongType).as("__len"),
        countDistinct(col("term")).as("__nt"))
    val qRare = qDistinct.join(termDf, Seq("term"))
      .groupBy("query_id")
      .agg(min(struct(col("__tdf"), col("term"))).as("__m"),
        count(lit(1)).as("__present"))
      .join(qLen, Seq("query_id"))
      .filter(col("__present") === col("__nt")) // every term in the corpus
      .select(col("query_id"), col("__m.term").as("term"), col("__len"))
    // r19 SIZE GATE (the r18 rejected lever, fired only when the vote
    // exchange would actually dominate): a battery (query, ord, term)
    // row can emit at most ctf(term) votes — the term's positions over
    // its candidate docs are a subset of its positions over ALL docs —
    // so U = Σ_term mult(term) · ctf(term) × (slop+1) bounds the vote
    // volume from above. Above the threshold, the slice re-spreads by
    // doc_id and materializes so BOTH downstream vote reductions
    // ((query,doc,start) and (query,doc)) plan exchange-free under
    // broadcast battery/positions joins (hashpartitioning(doc_id)
    // satisfies both ClusteredDistributions; a positions slice too big
    // to broadcast shuffle-joins as before and simply forfeits the win).
    // Below it, the r18-shipped persist-only shape runs unchanged. The
    // bound is ONE battery-vocabulary-sized aggregation over the cached
    // slice (its materialization is reused by the main action), run only
    // when the free driver-side bound battery×sumdl×(slop+1) (votes can
    // never exceed it either) clears the threshold; a per-query
    // rarest-df refinement (×df_rarest/df) was measured WORTHLESS on the
    // fixture (26.9M vs U = 27.1M vs 24.3M true — candidate docs hold
    // most postings of a phrase's terms) and needs the whole front half
    // ahead of the main action, so U it is. U ignores candidate pruning,
    // so it is LOOSE for a battery that pairs a rare term with a
    // stop-word: the rare term leaves few candidate docs, but the
    // stop-word's corpus-wide ctf still enters U, and the gate can fire
    // on a vote volume orders of magnitude smaller than U. Results stay
    // bit-identical either way (PlanAuditSpec pins both branches); only
    // the re-spread cost is paid when it was not needed. Default: 2e8
    // vote rows ≈ 8 GB exchanged — the sf0.1 1k battery (U = 27.1M, and
    // measured FASTER without co-partitioning) stays 7× under, while any
    // corpus-scale battery clears it; production tunes
    // spark.graft.phraseVoteCopartitionRows to taste (≤ 0 disables).
    val voteGate = spark.conf.getOption("spark.graft.phraseVoteCopartitionRows")
      .map(_.toLong).getOrElse(200000000L)
    val voteBound = batteryRows.toDouble * sumdl(meta).toDouble * (slop + 1).toDouble
    val estVotes =
      if (voteGate <= 0 || voteBound <= voteGate.toDouble) 0.0
      else qTerms.groupBy("term").agg(count(lit(1)).as("__mult"))
        .join(termDf, Seq("term"))
        .agg(coalesce(sum(col("__mult").cast(DoubleType) * col("__ctf").cast(DoubleType)),
          lit(0.0)))
        .head().getDouble(0) * (slop + 1).toDouble
    val voteSlice =
      if (voteGate > 0 && estVotes > voteGate.toDouble) {
        val spread = persisted(
          postPruned.select("term", "doc_id").repartition(col("doc_id")))
        spread.count() // materialize: a cold cache hides its partitioning
        spread         // behind an unfinished AQE subplan (the r18 lesson)
      } else postPruned
    val candidates = qRare.join(voteSlice, Seq("term"))
      .select("query_id", "doc_id", "__len")
    // expected occurrences per candidate doc: |candidates| × phrase len —
    // then ONE positions join keyed (term, doc_id) pulls exactly the
    // arrays the vote needs; explode runs per candidate row, never per
    // corpus position of a battery term
    val expected = candidates.join(qTerms.select("query_id", "ord", "term"),
      Seq("query_id"))
    val votes = expected.join(prunedPlane("positions"), Seq("term", "doc_id"))
      .select(col("query_id"), col("doc_id"), col("ord"), col("__len"),
        explode(col("positions")).as("p"))
    val starts =
      if (slop == 0) votes.select(col("query_id"), col("doc_id"),
        (col("p") - col("ord")).as("start"), col("ord"), col("__len"))
      else votes.select(col("query_id"), col("doc_id"),
        explode(sequence(col("p") - col("ord") - lit(slop),
          col("p") - col("ord"))).as("start"), col("ord"), col("__len"))
    // slop = 0 votes are unique per (query, doc, start, ord) — a term's
    // positions are distinct and each (term, ord) pairing is one battery
    // row — so the plain count IS the distinct count (the
    // phraseOccurrences rule, same reasoning)
    val nOrd = if (slop == 0) count(lit(1)) else count_distinct(col("ord"))
    val occurrences = persisted(
      starts.filter(col("start") >= 0)
        .groupBy("query_id", "doc_id", "start")
        .agg(nOrd.as("__nOrd"), max(col("__len")).as("__l"))
        .filter(col("__nOrd") === col("__l"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("tf")))
    phraseScoreTail(store, meta, occurrences, k, k1, b)
  }

  /** Matched (query_id, doc_id, tf) rows for a phrase battery over the
    * positions plane — the relational adjacency/proximity vote shared by
    * [[bm25PhraseTopK]] and [[bm25PhraseModelFromIndex]] (one copy of
    * the start-band / all-ordinals-present rule). At `slop = 0` each
    * (doc, start, ord) vote is unique (a term's positions are distinct),
    * so the count IS the distinct-ordinal count; at `slop > 0` a term's
    * two occurrences can vote the same (start, ord) band — votes dedupe
    * before the all-ordinals test, keeping the rule one-per-ordinal. */
  private def phraseOccurrences(plane: DataFrame,
                                perPhrase: Seq[(String, Seq[String])],
                                slop: Int = 0): DataFrame =
    perPhrase.map { case (qid, ts) =>
      val terms = ts.distinct
      // ordinal list per term — a REPEATED phrase term shifts by each of
      // its ordinals, so "the the" still demands two distinct votes
      val ordsOf: Map[String, Seq[Int]] =
        ts.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val ordArr = terms.map(t =>
          when(col("term") === t, array(ordsOf(t).map(lit): _*)))
        .reduce((a, b) => coalesce(a, b))
      val votes = plane.filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("term"), explode(col("positions")).as("p"))
        .select(col("doc_id"), col("p"), explode(ordArr).as("ord"))
      val starts =
        if (slop == 0) votes.select(col("doc_id"), (col("p") - col("ord")).as("start"),
          col("ord"))
        else votes.select(col("doc_id"),
          explode(sequence(col("p") - col("ord") - lit(slop),
            col("p") - col("ord"))).as("start"), col("ord"))
      // at slop = 0 each (doc, start, ord) vote is unique (a term's
      // positions are distinct), so the plain count IS the distinct
      // count — keep the exact-phrase hot path free of the distinct
      // aggregate's extra expand
      val nOrd = if (slop == 0) count(lit(1)) else count_distinct(col("ord"))
      starts.filter(col("start") >= 0)
        .groupBy("doc_id", "start").agg(nOrd.as("__nOrd"))
        .filter(col("__nOrd") === ts.length)
        .groupBy("doc_id").agg(count(lit(1)).as("tf"))
        .select(lit(qid).as("query_id"), col("doc_id"), col("tf"))
    }.reduce(_ unionByName _)

  /** Frozen phrase statistics for a battery — what a deployment derives
    * ONCE from a positional index and then applies to any batch or
    * stream ([[bm25PhraseScore]]): per-phrase idf (df = documents
    * containing the phrase, from the positions plane — zero corpus
    * scans) plus the corpus N/avgdl from the meta, and the `slop` the
    * battery was derived at (r16 — df and the scorer's row-local tf
    * must use ONE proximity rule or the score bits drift). The
    * [[bm25ModelFromIndex]] sibling on the phrase plane. */
  final case class PhraseModel(k1: Double, b: Double, n: Long, avgdl: Double,
                               phrases: Seq[(String, Seq[String])],
                               idf: Array[Double], slop: Int = 0)

  def bm25PhraseModelFromIndex(spark: org.apache.spark.sql.SparkSession,
                               dir: String, phrases: Seq[(String, String)],
                               k1: Double = 1.2, b: Double = 0.75,
                               slop: Int = 0): PhraseModel = {
    val (store, meta) = open(spark, dir)
    require(slop >= 0, s"bm25PhraseModelFromIndex: slop must be >= 0, got $slop")
    require(hasPositions(meta),
      s"bm25PhraseModelFromIndex: index at '$dir' was built without the " +
        "positions plane — rebuild or compact from a build with positions = true")
    require(meta.n > 0, s"bm25PhraseModelFromIndex: index at '$dir' holds no documents")
    val perPhrase = parseBattery(phrases)
    val plane = store.live(store.plane("positions", meta.batches), meta)
    // one bounded collect: ONE row per phrase (battery is driver-sized)
    val dfByPhrase: Map[String, Long] = phraseOccurrences(plane, perPhrase, slop)
      .groupBy("query_id").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the SAME idf arithmetic bm25PhraseTopK runs in-plan (StrictMath
    // through Spark's log; zero-match phrases get the df = 0 idf, the
    // bm25ModelFromIndex convention) — scores stay bit-identical
    val idf = perPhrase.map { case (qid, _) =>
      idfOf(meta.n, dfByPhrase.getOrElse(qid, 0L).toDouble)
    }.toArray
    PhraseModel(k1, b, meta.n, avgdl(meta), perPhrase, idf, slop)
  }

  /** Score a document frame — batch OR `readStream` — against a frozen
    * [[PhraseModel]]: (query_id, doc_id, score, dl, tf) rows for docs
    * containing the phrase at least once. Refuses a model holding an
    * EMPTY phrase, then scores exactly as [[bm25PhraseScoreBatch]] (one
    * corpus pass for the whole battery). STATELESS, so the same call is
    * the streaming twin with byte-identical scores (the [[bm25Score]]
    * precedent); and over the indexed corpus itself the rows are
    * BIT-IDENTICAL to [[bm25PhraseTopK]]'s scored surface minus the
    * ranking (same tokens → same tf; same df/N/avgdl through the same
    * StrictMath idf; same expression shapes — spec-pinned). */
  def bm25PhraseScore(docs: DataFrame, textCol: String, idCol: String,
                      model: PhraseModel): DataFrame = {
    model.phrases.find(_._2.isEmpty).foreach { case (qid, _) =>
      throw new IllegalArgumentException(
        s"bm25PhraseScore: phrase '$qid' has no tokens — use bm25PhraseScoreBatch " +
          "to score a battery whose blank probes should match nothing")
    }
    bm25PhraseScoreBatch(docs, textCol, idCol, model)
  }

  /** BATTERY-AS-DATA phrase scorer (r17): the whole battery rides
    * INSIDE one [[graft.functions.PhraseCountBatch]] expression — tf
    * computed ROW-LOCALLY from the doc's own tokens by the shared
    * adjacency kernel ([[graft.functions.PhraseKernel]]) at the model's
    * `slop`, with the same banded-proximity, overlap and repeated-term
    * semantics as the positional index's vote (exact at slop = 0);
    * first-token-gated candidate pruning is the row-local mirror of
    * bm25PhraseBatch's rarest-term join. The phrase ids / idf table
    * ride as two array LITERALS indexed in-plan — ONE corpus pass,
    * constant plan shape at any battery size. STATELESS (the same call
    * is the streaming twin). An EMPTY phrase scores nothing instead of
    * refusing the sweep (the bm25Batch blank-probe rule;
    * [[bm25PhraseScore]] refuses it). */
  def bm25PhraseScoreBatch(docs: DataFrame, textCol: String, idCol: String,
                           model: PhraseModel): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
    val hitsExpr = GraftColumnBridge.column(graft.functions.PhraseCountBatch(
      GraftColumnBridge.expression(toks), model.phrases.map(_._2), model.slop))
    val norm = lit(model.k1 * (1 - model.b)) +
      lit(model.k1 * model.b / model.avgdl) * col("dl").cast(DoubleType)
    val qidLit = typedLit(model.phrases.map(_._1))
    val idfLit = typedLit(model.idf.toSeq)
    docs.select(col(idCol).as("doc_id"),
        size(toks).cast(LongType).as("dl"), hitsExpr.as("__hits"))
      .select(col("doc_id"), col("dl"), explode(col("__hits")).as("__h"))
      .withColumn("tf", col("__h.tf").cast(LongType))
      .withColumn("score", idfLit.getItem(col("__h.phrase")) *
        col("tf").cast(DoubleType) * lit(model.k1 + 1.0) /
        (col("tf").cast(DoubleType) + norm))
      // the kernel only emits battery indices, so the id lookup never
      // misses: query_id is non-null, as in the model's phrase list
      .select(GraftColumnBridge.column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
          GraftColumnBridge.expression(qidLit.getItem(col("__h.phrase"))))).as("query_id"),
        col("doc_id"), col("score"), col("dl"), col("tf"))
  }

  /** Derive a frozen [[Bm25Model]] from the index — ZERO corpus scans
    * (df per battery term from a vocabulary-pruned posting read; N and
    * avgdl from the meta), so [[bm25Score]] can score a STREAM against
    * an indexed corpus's statistics. idf bits equal [[bm25Model]]'s
    * corpus-scan build exactly (same StrictMath.log, same integers). */
  def bm25ModelFromIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                         queries: Seq[(String, String)],
                         k1: Double = 1.2, b: Double = 0.75): Bm25Model = {
    val (store, meta) = open(spark, dir)
    require(meta.n > 0, s"bm25ModelFromIndex: index at '$dir' holds no documents")
    val perQuery = parseBattery(queries)
    val allTerms = perQuery.flatMap(_._2).distinct.sorted
    val dfByTerm: Map[String, Long] = store.live(store.plane("postings", meta.batches)
        .filter(col("term").isin(allTerms: _*)), meta)
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = allTerms.map(t => idfOf(meta.n, dfByTerm.getOrElse(t, 0L).toDouble)).toArray
    Bm25Model(k1, b, avgdl(meta), allTerms, idf, perQuery)
  }

  /** One delta TOKENIZATION → docs + postings batch dirs (overwrite
    * mode, so an orphan dir from a crashed append clobbers): the
    * (id, dl, tokens) projection persists once and feeds both planes'
    * writes — the delta text tokenizes exactly once per build/append.
    * Returns (rows, Σdl) of the delta, computed from the WRITTEN docs
    * files (validating the write). Refuses duplicate ids within the
    * delta. */
  private def writeIndexBatch(docs: DataFrame, textCol: String, idCol: String,
                              dir: String, batch: Int,
                              positions: Boolean): (Long, Long) = {
    val spark = docs.sparkSession
    val toks = coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
    val projected = docs
      .select(col(idCol).as("doc_id"), size(toks).cast(LongType).as("dl"),
        toks.as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      projected.select(col("doc_id"), col("dl"))
        .write.mode("overwrite").parquet(s"$dir/docs/b$batch")
      projected.select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        // TERM-SORTED layout: co-locate each term's postings and sort
        // within files, so parquet row-group min/max statistics make a
        // pushed `term IN (…)` scan skip everything a selective battery
        // does not ask for — the difference between reading a battery's
        // slice and reading the whole store at 100 TB
        .repartition(col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(s"$dir/postings/b$batch")
      if (positions)
        // the POSITIONS plane (r15, opt-in): (term, doc_id, positions
        // sorted ascending) — what quoted-phrase retrieval needs and the
        // tf plane cannot answer. Same term-sorted layout, so a phrase's
        // `term IN (…)` scan prunes identically; token order ships as
        // 0-based posexplode ordinals of the SAME tokenization the
        // postings came from (one shared persisted projection).
        projected.select(col("doc_id"), posexplode(col("__toks")))
          .select(col("doc_id"), col("col").as("term"), col("pos"))
          .groupBy("term", "doc_id")
          .agg(sort_array(collect_list(col("pos"))).as("positions"))
          .repartition(col("term"))
          .sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").parquet(s"$dir/positions/b$batch")
    } finally projected.unpersist(false)
    val st = spark.read.parquet(s"$dir/docs/b$batch")
      .agg(count(lit(1)), sum(col("dl")), countDistinct(col("doc_id"))).collect()(0)
    val dn = st.getLong(0)
    require(dn == 0L || st.getLong(2) == dn,
      s"bm25 index: delta has ${dn - st.getLong(2)} duplicate doc ids — " +
        "posting semantics are per-document; dedupe ids first")
    (dn, if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  /** Compact a many-batch posting index into a fresh single-batch store
    * at `dstDir` — the small-files maintenance of an append-heavy store
    * (each append adds a batch dir; a thousand appends later every search
    * opens a thousand footers AND loses cross-batch row-group pruning).
    * Postings rewrite GLOBALLY term-sorted (the per-batch layout only
    * sorts within each batch, so a selective battery's `term IN (…)` scan
    * skips row groups per batch; after compaction it skips across the
    * whole store). Tokenization never re-runs — the rows are already
    * postings; N/sumdl carry over from the source meta and the rewrite is
    * validated against it before the destination meta commits
    * ([[graft.sources.StoreMeta.Store.compactFrom]]). */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
                       srcDir: String, dstDir: String,
                       overwrite: Boolean = false,
                       lockWaitMs: Long = 0L): Unit = {
    val src = store(spark, srcDir)
    store(spark, dstDir).compactFrom(src, "bm25IndexCompact", overwrite, lockWaitMs) {
      (meta, staged) =>
        // tombstoned docs DROP PHYSICALLY here (the reclamation path):
        // every plane rewrites through the anti-join
        def liveSrc(plane: String) = src.live(src.plane(plane, meta.batches), meta)
        liveSrc("docs").write.mode("overwrite").parquet(s"$staged/docs/b0")
        liveSrc("postings")
          // RANGE partition + in-file sort = truly term-sorted across the
          // whole plane (file ordinals cover disjoint term ranges), so
          // row-group min/max skipping is as tight as the layout allows
          .repartitionByRange(col("term"), col("doc_id"))
          .sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").parquet(s"$staged/postings/b0")
        // validate BOTH planes before committing: docs against the source
        // meta's stats (which are live-row stats — the delete already
        // subtracted, so this equality also validates the tombstone drop),
        // postings by row count against the source's live read
        val st = spark.read.parquet(s"$staged/docs/b0")
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
        require(st.getLong(0) == meta.n && st.getLong(1) == sumdl(meta),
          s"bm25IndexCompact: rewrote ${st.getLong(0)} docs / Σdl ${st.getLong(1)} " +
            s"but '$srcDir' meta says ${meta.n} / ${sumdl(meta)} — source torn or " +
            "write incomplete; not committing")
        val srcPostings = liveSrc("postings").count()
        val dstPostings = spark.read.parquet(s"$staged/postings/b0").count()
        require(srcPostings == dstPostings,
          s"bm25IndexCompact: rewrote $dstPostings postings of $srcPostings — " +
            "write incomplete; not committing")
        // the positions plane (if present) compacts alongside, same layout
        // discipline and the same count validation
        if (hasPositions(meta)) {
          liveSrc("positions")
            .repartitionByRange(col("term"), col("doc_id"))
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite").parquet(s"$staged/positions/b0")
          val srcPos = liveSrc("positions").count()
          val dstPos = spark.read.parquet(s"$staged/positions/b0").count()
          require(srcPos == dstPos,
            s"bm25IndexCompact: rewrote $dstPos position rows of $srcPos — " +
              "write incomplete; not committing")
        }
    }
  }

  /** One-row OPERATIONAL snapshot of a posting store — the
    * inspection op that completes the lifecycle (build / append / delete
    * / compact / search / STATS): live corpus stats straight from the
    * meta (`docs`, `sumdl`, `avgdl` — delete-adjusted, so they equal a
    * from-scratch rebuild without the deleted rows), EXACT vocabulary and
    * posting-row counts from a tombstone-dropped scan of the postings
    * plane (`terms`, `postings` — exact, not sketched, so the numbers are
    * oracle-checkable against the raw corpus; one full postings-plane
    * scan + one distinct shuffle is the honest, explicitly-invoked cost
    * of exact stats at any scale), and the maintenance gauges a deployment
    * watches (`batches`, `tomb_batches`, `tomb_rows` — the
    * [[graft.sources.StoreMeta.TombstoneRowCap]] backlog — and the
    * `positions` capability flag). Read-only: no lease taken; a crashed
    * swap heals on the meta read like every other reader. */
  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                     dir: String): DataFrame = {
    val (store, meta) = open(spark, dir)
    store.live(store.plane("postings", meta.batches), meta)
      .agg(countDistinct(col("term")).as("terms"),
        count(lit(1)).as("postings"))
      .select(lit(meta.n).as("docs"), lit(sumdl(meta)).as("sumdl"),
        // a fully-deleted store (n = 0, legal: stats must still report)
        // shows avgdl as NULL, never NaN
        (if (meta.n > 0) lit(avgdl(meta))
         else lit(null).cast(DoubleType)).as("avgdl"),
        col("terms"), col("postings"),
        lit(meta.batches).as("batches"),
        lit(meta.tombBatches).as("tomb_batches"),
        lit(meta.tombRows).as("tomb_rows"),
        lit(hasPositions(meta)).as("positions"))
  }

  /** The posting store, as the shared lifecycle sees it: its own meta
    * fields are `sumdl` (Σdl of the live docs, kept by appends and deletes
    * as the docs plane's `dl` weight) and the `positions` flag (absent in
    * stores built before the positions plane existed: false). */
  private val IndexKind = StoreMeta.Kind(format = "graft-bm25-index", noun = "a bm25 index",
    ops = "bm25Index", key = "doc_id", keyPlane = "docs", item = "document",
    stats = Seq("sumdl"), flags = Seq("positions"), weight = Some("dl" -> "sumdl"),
    unionBatches = false)

  private def store(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new StoreMeta.Store(IndexKind, spark, dir)
  private def open(spark: org.apache.spark.sql.SparkSession, dir: String) =
    StoreMeta.open(IndexKind, spark, dir)

  private def sumdl(meta: StoreMeta.Meta): Long = meta.stats("sumdl")
  private def avgdl(meta: StoreMeta.Meta): Double = sumdl(meta).toDouble / meta.n.toDouble
  private def hasPositions(meta: StoreMeta.Meta): Boolean = meta.flags("positions")
}
