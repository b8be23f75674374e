package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Similarity}

import Tag._

/** The similarity-search extension family: cosine top-k, BM25 (literal,
  * battery-as-data, persisted, phrase and NEAR forms), hybrid fusion,
  * LSH/IVF/PQ ANN and the persisted ANN store. */
object SimilarityGates extends GateFamily {

  /** Bit-exact mismatch count between two top-k frames on (query_id,
    * rank) — the equality pin the ann_index_* gates share: any
    * missing/extra rank or a neighbor/cosine differing in one ulp
    * counts. ONE copy, so a fix to the comparison semantics cannot
    * silently diverge across gates. */
  private def topKMismatches(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Long =
    a.select(col("query_id"), col("rank"),
        col("neighbor_id").as("__na"), col("cosine").as("__ca"))
      .join(b.select(col("query_id"), col("rank"),
        col("neighbor_id").as("__nb"), col("cosine").as("__cb")),
        Seq("query_id", "rank"), "full_outer")
      .filter(col("__na").isNull || col("__nb").isNull ||
        col("__na") =!= col("__nb") || col("__ca") =!= col("__cb"))
      .count()

  /** Shared DuckDB CTE prefix: the complete BM25 ranking re-derivation
    * over the 3-query battery (same Okapi formula, left-to-right float
    * sums, see search_bm25_topk) ending in `scored` — consumed by
    * search_bm25_topk, search_bm25_batch AND search_hybrid_rrf. */
  private val bm25OracleCtes: String =
    """toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
        |    len(list_filter(t, x -> x = 'hash'))   AS tf_hash,
        |    len(list_filter(t, x -> x = 'join'))   AS tf_join,
        |    len(list_filter(t, x -> x = 'fast'))   AS tf_fast,
        |    len(list_filter(t, x -> x = 'table'))  AS tf_table,
        |    len(list_filter(t, x -> x = 'scan'))   AS tf_scan,
        |    len(list_filter(t, x -> x = 'stream')) AS tf_stream,
        |    len(list_filter(t, x -> x = 'window')) AS tf_window,
        |    len(list_filter(t, x -> x = 'agg'))    AS tf_agg
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_spark,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hash   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hash   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hash,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_join,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_fast   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_fast   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_fast,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_table  > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_table  > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_table,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_scan   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_scan   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_scan,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_stream,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_window,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_agg    > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_agg    > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_agg
        |  FROM tf),
        |normed AS (
        |  SELECT tf.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(tf.dl AS DOUBLE) AS nrm
        |  FROM tf, st),
        |scored AS (
        |  SELECT 'q_join' AS query_id, doc_id, dl,
        |    tf_spark + tf_hash + tf_join AS tf_total,
        |    (idf_spark * CAST(tf_spark AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_spark AS DOUBLE) + nrm))
        |    + (idf_hash * CAST(tf_hash AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hash AS DOUBLE) + nrm))
        |    + (idf_join * CAST(tf_join AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_join AS DOUBLE) + nrm)) AS score
        |  FROM normed
        |  UNION ALL
        |  SELECT 'q_scan', doc_id, dl,
        |    tf_fast + tf_table + tf_scan,
        |    (idf_fast * CAST(tf_fast AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_fast AS DOUBLE) + nrm))
        |    + (idf_table * CAST(tf_table AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_table AS DOUBLE) + nrm))
        |    + (idf_scan * CAST(tf_scan AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_scan AS DOUBLE) + nrm))
        |  FROM normed
        |  UNION ALL
        |  SELECT 'q_stream', doc_id, dl,
        |    tf_stream + tf_window + tf_agg,
        |    (idf_stream * CAST(tf_stream AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_stream AS DOUBLE) + nrm))
        |    + (idf_window * CAST(tf_window AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_window AS DOUBLE) + nrm))
        |    + (idf_agg * CAST(tf_agg AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_agg AS DOUBLE) + nrm))
        |  FROM normed)""".stripMargin

  // ===== extensions: similarity search =====

  gate("embed_cosine_topk", Headline, Shared, Baseline)((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    },
    oracle = """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))) AS cosine
        | FROM embeddings e, q)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        | FROM scored) WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin)

  private val searchBm25Topk = gate("search_bm25_topk", Headline)((s, dir) => {
      // r11: lexical retrieval — Okapi BM25 top-10 per query over the
      // corpus (KeywordSearch: one corpus scan for all queries, codegen'd
      // tf kernel, literal idf table, two-stage top-k). The oracle
      // re-derives the FULL ranking in SQL (same formula, same
      // term-order float sums, same doc-id tie rule); the float score
      // itself stays out of the gate row — ranks, lengths and tf sums
      // are the integer-exact surface.
      graft.operators.KeywordSearch.bm25TopK(
          T(s, dir, "documents"), "text", "doc_id",
          Seq(("q_join", "spark hash join"),
              ("q_scan", "fast table scan"),
              ("q_stream", "stream window agg")), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // full BM25 re-derivation: same Okapi formula, same left-to-right
    // per-term float sums (explicit expression, NOT an unordered SUM),
    // same (score desc, doc_id asc) tie rule — ranks/dl/tf are the
    // hash-exact surface. The CTE prefix is shared with search_hybrid_rrf
    // (bm25OracleCtes).
    oracle = s"""WITH $bm25OracleCtes
        |SELECT query_id, rank, doc_id, CAST(dl AS BIGINT) AS dl,
        |       CAST(tf_total AS BIGINT) AS tf_total
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored WHERE score > 0)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)

  gate("search_bm25_batch")((s, dir) => {
      // r12: the INVERTED-INDEX BM25 form — the battery is a DataFrame
      // (data, not plan), so a 10⁴-10⁶-probe decontamination battery
      // plans ONE fixed shape instead of a union branch per query. Scores
      // fold in query term order (bit-identical to bm25TopK), so this
      // gate reuses search_bm25_topk's ORACLE verbatim on the same
      // battery: hash-identical ranking across the two execution forms.
      import s.implicits._
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle as the literal-form BM25 gate: the inverted-index form
    // folds per-term contributions in query term order, so its ranking
    // must be hash-identical on the same battery
    oracle = searchBm25Topk.sql)

  gate("search_bm25_batch_wide")((s, dir) => {
      // r13: forces bm25Batch's ORDERED-FOLD branch — one ≥32-token probe
      // (the standard 3-term battery's q_join repeated 11× = 33 tokens,
      // ord 0..32) pushes the global maxOrd past the pivoted-aggregate
      // cap, so every query scores through the native OrderedContribSum
      // fold instead of the sum(when(ord=i)) pivot. The oracle re-derives
      // the wide probe's 33-term left-to-right float sum explicitly
      // (generated, same repeating idf/tf columns), so ranks stay
      // hash-exact; the 3 short probes must land exactly on
      // search_bm25_topk's rows — any fold/pivot divergence breaks them.
      import s.implicits._
      val battery = Seq(
        ("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg"),
        ("q_wide", Seq.fill(11)("spark hash join").mkString(" "))).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // the ordered-fold battery: the 3 standard probes (shared CTEs) plus
    // q_wide = 'spark hash join' ×11 — 33 tokens, so the engine's global
    // maxOrd crosses the pivot cap and every query folds through
    // OrderedContribSum. The wide score is the explicit 33-term
    // LEFT-TO-RIGHT sum (generated below — same repeating idf/tf columns,
    // never an unordered SUM), matching the fold's ord-sorted adds bit
    // for bit; duplicate terms contribute once per occurrence, tf_total
    // counts distinct terms once (the engine's first_occ rule).
    oracle = s"""WITH $bm25OracleCtes,
        |scored_w AS (
        |  SELECT * FROM scored
        |  UNION ALL
        |  SELECT 'q_wide' AS query_id, doc_id, dl,
        |    tf_spark + tf_hash + tf_join AS tf_total,
        |    ${Seq.fill(11)(Seq("spark", "hash", "join")).flatten.map(t =>
             s"(idf_$t * CAST(tf_$t AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_$t AS DOUBLE) + nrm))")
             .mkString("\n        |    + ")} AS score
        |  FROM normed)
        |SELECT query_id, rank, doc_id, CAST(dl AS BIGINT) AS dl,
        |       CAST(tf_total AS BIGINT) AS tf_total
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored_w WHERE score > 0)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)

  gate("search_bm25_batch_bigvocab")((s, dir) => {
      // r13 (branch re-pointed r15): a >1,024-term battery — 1,022
      // single-term pad probes on top of the standard 3. Through r14
      // this size forced the explode+semi-join posting build; since r15
      // it exercises the sparse TermPostings kernel at a vocabulary the
      // dense kernel could never carry (the organic explode switch now
      // sits at 65,536 — see search_bm25_batch_explode for that branch's
      // gate). Pad terms match nothing (and even a freak match would
      // only rank rows under a pad query_id — per-query scoring is
      // independent, and idf is a corpus-only fact), so the real 3-probe
      // slice must be hash-identical to the literal form: the gate
      // reuses search_bm25_topk's oracle verbatim.
      import s.implicits._
      val pads = (0 until 1022).map(i => (f"pad_$i%04d", f"qzxpadterm$i%04d"))
      val battery = (Seq(
        ("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")) ++ pads).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .filter(col("query_id").isin("q_join", "q_scan", "q_stream"))
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle again: the 1,022 pad probes only grow the vocabulary
    // (r15: the sparse-kernel build at a size the dense kernel refused) —
    // they match nothing and per-query scoring is independent, so the
    // real-probe slice is the literal form's ranking
    oracle = searchBm25Topk.sql)

  // r12: the inverted-index BM25 form at the scale the literal form
  // cannot plan — a 1,000-probe battery (each probe = a document's
  // leading 5 words: the eval-decontamination look-alike shape) as
  // DATA through one posting-join plan. Correctness is carried by the
  // search_bm25_batch gate (same-oracle hash vs the literal form).
  benchOnly("search_bm25_batch_1k", Headline)((s, dir) => {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val battery = docs.filter(col("doc_id") < 1000)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 5)).as("qtext"))
    graft.operators.KeywordSearch.bm25Batch(
      docs, "text", "doc_id", battery, "qid", "qtext", k = 10)
  })

  // r14: the 1k battery with 1,100 unique no-match pad probes pushing
  // the vocabulary past 1,024 distinct terms. Through r14 that forced
  // the explode+semi-join posting build (13.6 s official, the suite's
  // most expensive row); since r15 the same battery rides the sparse
  // TermPostings kernel (binary-search probe, matched pairs only), so
  // this row now times the big-vocab IN-SCAN path — same battery,
  // same series, the branch lift IS the measured delta. Pads match
  // nothing (unique nonsense tokens), so the delta vs
  // search_bm25_batch_1k is attributable to vocabulary size alone.
  benchOnly("search_bm25_batch_bigvocab_1k", Headline)((s, dir) => {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val battery = docs.filter(col("doc_id") < 1000)
      .select(col("doc_id").cast("string").as("qid"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 5)).as("qtext"))
      .unionByName(s.range(1100).select(
        concat(lit("pad_"), col("id")).as("qid"),
        concat(lit("qzxpadterm"), col("id")).as("qtext")))
    graft.operators.KeywordSearch.bm25Batch(
      docs, "text", "doc_id", battery, "qid", "qtext", k = 10)
  })

  gate("search_bm25_batch_explode")((s, dir) => {
      // r15: the EXPLODE+SEMI-JOIN posting build, branch-forced via
      // kernelVocabCap = 0 (organically it now takes a >65,536-term
      // vocabulary — too large to stage as a gate battery; the
      // PlanAuditSpec xor pin covers the organic switch). Same battery
      // and oracle as search_bm25_topk: the third posting-build shape
      // over one DuckDB truth.
      import s.implicits._
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext",
          k = 10, kernelVocabCap = 0)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle again (r15): the branch-forced explode+semi-join
    // posting build — identical posting rows, identical ranking
    oracle = searchBm25Topk.sql)

  gate("search_bm25_indexed")((s, dir) => {
      // r14: the PERSISTED posting-index form — build the index over the
      // even half of the corpus, APPEND the odd half (only the delta is
      // scanned; batch 0's files never rewrite; meta.json writes last),
      // then search with zero corpus scans. Scores fold through the same
      // retrieval tail as the batch form, so this gate reuses
      // search_bm25_topk's oracle verbatim: one DuckDB truth, now THREE
      // hash-identical execution forms (literal plan / in-flight
      // inverted index / persisted store with append).
      import s.implicits._
      val root = s"/tmp/graft_bm25_idx_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", root,
        overwrite = true)
      graft.operators.KeywordSearch.bm25IndexAppend(s, root,
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, root, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle, third execution form (r14): the persisted posting
    // store with one append must rank hash-identically to the literal
    // plan over the same corpus
    oracle = searchBm25Topk.sql)

  gate("search_bm25_compacted")((s, dir) => {
      // r14: COMPACTION — build on the even half, append the odd half
      // (two batch dirs), then compact to a fresh single-batch store
      // whose postings are GLOBALLY term-sorted. No re-tokenization, no
      // posting changes: the search must stay hash-identical to the
      // literal form — the FOURTH execution shape over one DuckDB truth.
      import s.implicits._
      val src = s"/tmp/graft_bm25_csrc_${tmpToken(dir)}"
      val dst = s"/tmp/graft_bm25_cdst_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", src,
        overwrite = true)
      graft.operators.KeywordSearch.bm25IndexAppend(s, src,
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      graft.operators.KeywordSearch.bm25IndexCompact(s, src, dst, overwrite = true)
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, dst, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle a FOURTH time: build + append + COMPACT must still rank
    // hash-identically — compaction rewrites postings globally
    // term-sorted but never re-tokenizes or changes a single posting
    oracle = searchBm25Topk.sql)

  gate("search_bm25_deleted")((s, dir) => {
      // r15: the DELETE plane — build over the corpus PLUS five poison
      // docs stuffed with every battery term (they would rank top if the
      // tombstone anti-join leaked anywhere: scoring, df, or the meta's
      // n/avgdl, all of which the delete adjusts), then DELETE them. The
      // search must be hash-identical to the literal form over the
      // ORIGINAL corpus — the search_bm25_topk oracle reused verbatim, a
      // FIFTH execution shape (store with tombstones) over one truth.
      import s.implicits._
      val root = s"/tmp/graft_bm25_del_${tmpToken(dir)}"
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val extra = s.range(5).select((col("id") + 10000000L).as("doc_id"),
        lit("spark hash join fast table scan stream window agg").as("text"))
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.unionByName(extra), "text", "doc_id", root, overwrite = true)
      graft.operators.KeywordSearch.bm25IndexDelete(
        s, root, extra.select("doc_id"), "doc_id")
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, root, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle a FIFTH time (r15): build-with-poison-docs + DELETE
    // must rank hash-identically to the literal form over the original
    // corpus — the tombstone plane must be invisible in scores, df, and
    // the meta's n/avgdl
    oracle = searchBm25Topk.sql)

  // r15: the posting-store lifecycle at corpus scale — rebuild from
  // the even half (overwrite = true: the staged-sibling swap resets
  // the store, so every sample times the same cold build), append the
  // odd half (the delta-scan path), search a 3-probe battery over the
  // result. Timing includes the builds by design (they ARE the
  // operation).
  benchOnly("bm25_index_cycle", Headline)((s, dir) => {
    val root = s"/tmp/graft_bench_bm25idx_${tmpToken(dir)}"
    val docs = s.read.parquet(s"$dir/documents.parquet")
    graft.operators.KeywordSearch.bm25IndexBuild(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", root,
      overwrite = true)
    graft.operators.KeywordSearch.bm25IndexAppend(s, root,
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    import s.implicits._
    val battery = Seq(("q_join", "spark hash join"),
      ("q_scan", "fast table scan"),
      ("q_stream", "stream window agg")).toDF("qid", "qtext")
    graft.operators.KeywordSearch.bm25SearchIndexed(
      s, root, battery, "qid", "qtext", k = 10)
  })

  gate("search_bm25_stats")((s, dir) => {
      // r17: the posting store's INSPECTION op — one-row operational
      // snapshot. The oracle is the strongest kind available to a stats
      // surface: DuckDB re-derives docs / sumdl / distinct terms /
      // posting rows from the RAW corpus through the mirrored tokenizer,
      // so the gate cross-checks the meta's delete-adjusted ledger AND
      // the postings plane against ground truth (a build that dropped or
      // double-counted a single (term, doc) pair breaks the hash). The
      // maintenance gauges (batches / tombstones / flags) are pinned by
      // the lifecycle spec instead — they are store-internal, not
      // corpus-derivable.
      val root = s"/tmp/graft_bm25_stats_${tmpToken(dir)}"
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true)
      graft.operators.KeywordSearch.bm25IndexStats(s, root)
        .select(col("docs"), col("sumdl"), col("terms"), col("postings"))
    },
    // posting-store stats oracle (r17): docs / sumdl / distinct terms /
    // (term, doc) posting rows re-derived from the RAW corpus through the
    // mirrored tokenizer — cross-checks the meta ledger AND the postings
    // plane against ground truth. Null/blank texts tokenize to zero
    // tokens on both sides (COALESCE mirrors the engine's dl = 0).
    oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |flat AS (
        |  SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, UNNEST(t) AS term FROM toks))
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS docs,
        |  (SELECT CAST(COALESCE(SUM(COALESCE(len(t), 0)), 0) AS BIGINT) FROM toks) AS sumdl,
        |  CAST(COUNT(DISTINCT term) AS BIGINT) AS terms,
        |  CAST(COUNT(*) AS BIGINT) AS postings
        |FROM flat""".stripMargin)

  gate("ann_index_stats")((s, dir) => {
      // r17: the vector store's INSPECTION op — bm25IndexStats's twin.
      // vectors re-derives from the raw embeddings table; dim from the
      // stored model's round trip (the oracle reads len(embedding) from
      // the corpus — a model that persisted the wrong geometry breaks
      // the hash); subspaces/cells pin the build parameters as read BACK
      // from model.json, not as passed in.
      val root = s"/tmp/graft_ann_stats_${tmpToken(dir)}"
      val emb = T(s, dir, "embeddings")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexStats(s, root)
        .select(col("vectors"), col("dim"), col("subspaces"), col("cells"))
    },
    // vector-store stats oracle (r17): vectors from the raw embeddings
    // table; dim from the corpus vectors themselves (the engine reports
    // the model.json round trip — a model persisted with the wrong
    // geometry breaks the hash); subspaces/cells are the build contract
    oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS vectors,
        |  (SELECT CAST(len(embedding) AS INT) FROM embeddings LIMIT 1) AS dim,
        |  CAST(8 AS INT) AS subspaces,
        |  CAST(16 AS INT) AS cells
        |FROM embeddings""".stripMargin)

  gate("ann_index_drift")((s, dir) => {
      // r18: the frozen-model DRIFT gauge — appends encode under the
      // build-time model forever (drift degrades recall, never score
      // correctness), and through r17 nothing told a deployment WHEN the
      // model had aged out. annIndexDrift reports per-batch mean/p95
      // cosine distance to the ASSIGNED coarse centroid. The fixture
      // appends a batch of vectors EXACTLY orthogonal to every centroid
      // (Gram-Schmidt against the model read BACK from model.json) — the
      // worst possible drift, pinning that batch's mean at ~1.0 at any
      // data scale, while batch 0 (the data the model was fitted on)
      // sits well below. matches_recompute re-derives batch 0's mean
      // INDEPENDENTLY from the raw embeddings table + the round-tripped
      // model (assignment via the same NearestCells kernel, distance via
      // 1 − vec_cosine) — per-row distances are bit-identical, so the
      // two averages may differ only by aggregation order (~1e-13).
      import graft.functions.VectorFunctions.{nearest_cells, vec_cosine}
      val root = s"/tmp/graft_ann_drift_${tmpToken(dir)}"
      val emb = T(s, dir, "embeddings")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val rootP = graft.sources.FsPaths.hadoopPath(root)
      val fs = graft.sources.FsPaths.fileSystemFor(
        rootP, s.sparkContext.hadoopConfiguration)
      val (cents, _) = graft.operators.AnnIndex.readModel(fs, rootP, root)
      val orth = graft.harness.DriftFixture.modelOrthogonal(cents, 20)
      import s.implicits._
      val delta = orth.toSeq.zipWithIndex
        .map { case (v, j) => (10000000L + j, v) }.toDF("vec_id", "embedding")
      graft.operators.AnnIndex.annIndexAppend(s, root, delta, "vec_id", "embedding")
      val drift = graft.operators.AnnIndex.annIndexDrift(s, root)
        .orderBy("batch").collect()
      val (mean0, p950) = (drift(0).getDouble(2), drift(0).getDouble(3))
      val (mean1, p951) = (drift(1).getDouble(2), drift(1).getDouble(3))
      val centSchema = StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("__cent", ArrayType(FloatType, containsNull = false),
          nullable = false)))
      val centDf = s.createDataFrame(
        java.util.Arrays.asList(cents.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(i, c.toSeq) }: _*), centSchema)
      val re = emb.filter(col("embedding").isNotNull)
        .select(element_at(nearest_cells(col("embedding"), cents, 1), 1)
          .as("cell"), col("embedding"))
        .join(broadcast(centDf), "cell")
        .agg(avg(lit(1.0) - vec_cosine(col("embedding"), col("__cent"))))
        .head().getDouble(0)
      s.range(1).select(
        lit("ann_drift").as("method"),
        lit(drift(0).getLong(1)).as("vectors_b0"),
        lit(drift(1).getLong(1)).as("vectors_b1"),
        lit(mean0 < 0.9).as("baseline_fits_model"),
        lit(mean1 > mean0 + 0.15).as("drift_detected"),
        lit(math.abs(mean1 - 1.0) < 0.001 && math.abs(p951 - 1.0) < 0.001)
          .as("orthogonal_batch_at_ceiling"),
        lit(p951 > p950 + 0.1).as("p95_drifts_too"),
        lit(math.abs(mean0 - re) < 1e-9).as("matches_recompute"))
    },
    // r18 drift gauge: batch sizes re-derive from the corpus (+ the
    // fixture's 20 orthogonal vectors); the geometry flags — baseline
    // fit, detection margin, the orthogonal batch pinned at distance
    // ~1.0, and the order-independent recompute — verify in-plan and
    // the oracle pins them TRUE
    oracle = """SELECT 'ann_drift' AS method,
        |  CAST(COUNT(*) AS BIGINT) AS vectors_b0,
        |  CAST(20 AS BIGINT) AS vectors_b1,
        |  TRUE AS baseline_fits_model,
        |  TRUE AS drift_detected,
        |  TRUE AS orthogonal_batch_at_ceiling,
        |  TRUE AS p95_drifts_too,
        |  TRUE AS matches_recompute
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin)

  private val searchBm25Phrase = gate("search_bm25_phrase")((s, dir) => {
      // r15: QUOTED-PHRASE retrieval over the POSITIONAL posting store —
      // adjacency verified from stored positions (zero corpus scans),
      // the phrase scored as one Okapi pseudo-term. The battery includes
      // a trigram with a REPEATED term ("the batch batch"), which only
      // matches where both 'batch' ordinals vote at the same start. The
      // oracle re-derives every phrase tf by direct string adjacency
      // over the raw corpus text in DuckDB — a positions-plane bug
      // (wrong ordinal, off-by-one, unsorted list) cannot satisfy both.
      val root = s"/tmp/graft_bm25_pos_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseTopK(s, root,
          Seq(("p_hash_join", "hash join"),
              ("p_table_scan", "table scan"),
              ("p_batch2", "the batch batch")), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    },
    // phrase retrieval oracle: every phrase tf re-derived by DIRECT
    // STRING ADJACENCY over the tokenized corpus text (1-based DuckDB
    // list indexing; range(1, len) yields valid 2-gram starts, range(1,
    // len-1) 3-gram starts) — the engine answers from its positions
    // plane, so a positional bug (wrong ordinal, off-by-one, unsorted
    // list, tombstone leak) cannot satisfy both. Same Okapi pseudo-term
    // scoring, same (score desc, doc_id asc) tie rule; ranks/dl/tf are
    // the hash-exact surface
    oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'hash' AND t[i+1] = 'join')) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'scan')) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) - 1), i -> t[i] = 'the' AND t[i+1] = 'batch' AND t[i+2] = 'batch')) AS BIGINT) AS tf_bb
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hj,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_ts,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_bb
        |  FROM occ),
        |normed AS (
        |  SELECT occ.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(occ.dl AS DOUBLE) AS nrm
        |  FROM occ, st),
        |scored AS (
        |  SELECT 'p_hash_join' AS query_id, doc_id, dl, tf_hj AS tf,
        |    idf_hj * CAST(tf_hj AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hj AS DOUBLE) + nrm) AS score
        |  FROM normed WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'p_table_scan', doc_id, dl, tf_ts,
        |    idf_ts * CAST(tf_ts AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_ts AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'p_batch2', doc_id, dl, tf_bb,
        |    idf_bb * CAST(tf_bb AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_bb AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_bb > 0)
        |SELECT query_id, rank, doc_id, dl, tf
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)

  private val searchBm25PhraseScored = gate("search_bm25_phrase_scored")((s, dir) => {
      // r15: the STREAM-shaped phrase plane — score the corpus against a
      // frozen PhraseModel (per-phrase df + N/avgdl derived from the
      // positional store with zero corpus scans; tf row-local via the
      // codegen'd PhraseCountBatch adjacency kernel). The rows are the
      // indexed search's scored surface minus ranking (bit-identity
      // spec-pinned); the oracle re-derives every tf by direct string
      // adjacency — the search_bm25_phrase truth without the top-k.
      val root = s"/tmp/graft_bm25_psc_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("p_hash_join", "hash join"),
            ("p_table_scan", "table scan"),
            ("p_batch2", "the batch batch")))
      graft.operators.KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    },
    // closed-form regeneration of BOTH levels of the nested-Sequence
    // fixture: outer rows from range(4), inner rows from the cross join
    // gated on j < i % 3 (record 0 contributes none), dims/coord_key as
    // the dot-joined dims/coords vectors
    // the phrase-adjacency truth WITHOUT the top-k: every doc containing
    // each phrase, tf by direct string adjacency (the search_bm25_phrase
    // CTE shapes; scores stay out of the hash surface)
    oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'hash' AND t[i+1] = 'join')) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'scan')) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) - 1), i -> t[i] = 'the' AND t[i+1] = 'batch' AND t[i+2] = 'batch')) AS BIGINT) AS tf_bb
        |  FROM toks)
        |SELECT query_id, doc_id, dl, tf FROM (
        |  SELECT 'p_hash_join' AS query_id, doc_id, dl, tf_hj AS tf FROM occ WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'p_table_scan', doc_id, dl, tf_ts FROM occ WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'p_batch2', doc_id, dl, tf_bb FROM occ WHERE tf_bb > 0)
        |ORDER BY query_id, doc_id""".stripMargin)

  private val searchBm25NearScored = gate("search_bm25_near_scored")((s, dir) => {
      // r16: the STREAM-shaped NEAR plane — score the corpus against a
      // frozen PhraseModel derived at slop = 1 (per-phrase df from the
      // positional store's banded vote, zero corpus scans; tf row-local
      // via the slop-aware PhraseCountBatch kernel). The search_bm25_near
      // battery and truth minus the top-k: every (doc, dl, tf) row
      // re-derived by direct windowed string indexing in DuckDB — the
      // search_bm25_phrase_scored pattern on the proximity plane.
      val root = s"/tmp/graft_bm25_nsc_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("n_hash_join", "hash join"),
            ("n_table_scan", "table scan"),
            ("n_batch2", "the batch batch")), slop = 1)
      graft.operators.KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    },
    // the NEAR scorer: the same windowed re-derivation minus the top-k —
    // every (doc, dl, tf) row at slop = 1, the scored surface the frozen
    // model's row-local kernel must reproduce
    oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'hash' OR t[s+1] = 'hash') AND (t[s+1] = 'join' OR t[s+2] = 'join'))) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'table' OR t[s+1] = 'table') AND (t[s+1] = 'scan' OR t[s+2] = 'scan'))) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'the' OR t[s+1] = 'the') AND (t[s+1] = 'batch' OR t[s+2] = 'batch') AND (t[s+2] = 'batch' OR t[s+3] = 'batch'))) AS BIGINT) AS tf_bb
        |  FROM toks)
        |SELECT query_id, doc_id, dl, tf FROM (
        |  SELECT 'n_hash_join' AS query_id, doc_id, dl, tf_hj AS tf
        |  FROM occ WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'n_table_scan', doc_id, dl, tf_ts FROM occ WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'n_batch2', doc_id, dl, tf_bb FROM occ WHERE tf_bb > 0)
        |ORDER BY query_id, doc_id""".stripMargin)

  gate("search_bm25_phrase_scored_batch")((s, dir) => {
      // r17: BATTERY-AS-DATA scorer — the whole battery rides inside ONE
      // PhraseCountBatch expression (one corpus pass, constant plan shape
      // at any battery size — plan-pinned; the per-phrase scorer plans a
      // corpus-scan branch per phrase). Same battery, same frozen model,
      // same adjacency oracle as search_bm25_phrase_scored, so the gate
      // pins the two scorer forms hash-equal.
      val root = s"/tmp/graft_bm25_psb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("p_hash_join", "hash join"),
            ("p_table_scan", "table scan"),
            ("p_batch2", "the batch batch")))
      graft.operators.KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    },
    // SAME oracle as the per-phrase SCORER (r17): the battery-as-data
    // scorer runs the same adjacency kernel inside one expression —
    // same battery and model, hash-equal rows against the same
    // string-adjacency truth
    oracle = searchBm25PhraseScored.sql)

  gate("search_bm25_near_scored_batch")((s, dir) => {
      // r17: the NEAR twin of search_bm25_phrase_scored_batch — the
      // banded-proximity vote at slop = 1 with the battery as data; same
      // battery, model, and windowed-indexing oracle as
      // search_bm25_near_scored, pinning the forms hash-equal.
      val root = s"/tmp/graft_bm25_nsb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("n_hash_join", "hash join"),
            ("n_table_scan", "table scan"),
            ("n_batch2", "the batch batch")), slop = 1)
      graft.operators.KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    },
    // SAME oracle as the per-phrase NEAR scorer (r17): the banded
    // kernel at slop = 1 with the battery as data — hash-equal rows
    // against the same windowed-indexing truth
    oracle = searchBm25NearScored.sql)

  gate("search_bm25_phrase_batch")((s, dir) => {
      // r17: BATTERY-AS-DATA phrase retrieval — the decontamination
      // shape (thousands of eval-set phrase probes), where the battery
      // is a DataFrame and the plan is ONE positions scan regardless of
      // battery size (plan-pinned in PlanAuditSpec; the per-phrase form
      // plans a scan branch per phrase). Same battery and same
      // independent string-adjacency oracle as search_bm25_phrase, so
      // the gate pins the two forms hash-equal through the shared
      // scoring tail — score bits included.
      import s.implicits._
      val root = s"/tmp/graft_bm25_pb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseBatch(s, root,
          Seq(("p_hash_join", "hash join"),
              ("p_table_scan", "table scan"),
              ("p_batch2", "the batch batch")).toDF("qid", "qtext"),
          "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle as the per-phrase form (r17): the battery-as-data form
    // runs the identical adjacency vote through ONE positions scan and
    // the shared scoring tail — same battery, hash-equal rows against
    // the same independent string-adjacency truth
    oracle = searchBm25Phrase.sql)

  /** The positional store the phrase-battery row searches — built ONCE per
    * bench run by [[graft.harness.GraftSession.prepareBenchFixtures]]
    * (store build is artifact prep, like ensureCatalog; the row times the
    * SEARCH). */
  private[graft] def benchPhraseStore(dir: String): String =
    s"/tmp/graft_bench_posidx_${tmpToken(dir)}"

  // r17: the 1k-phrase battery over the warmup-built positional store —
  // battery as DATA (one positions scan, one occurrence join), the
  // decontamination sweep shape. Reads only.
  benchOnly("search_bm25_phrase_batch_1k", Headline)((s, dir) => {
    val battery = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 1000)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 3)).as("qtext"))
    graft.operators.KeywordSearch.bm25PhraseBatch(
      s, benchPhraseStore(dir), battery, "qid", "qtext", k = 10)
  })

  private val searchBm25Near = gate("search_bm25_near")((s, dir) => {
      // r16: PROXIMITY (NEAR-k) retrieval over the positional store —
      // the sloppy-phrase query, answered from the same positions plane
      // by widening each ordinal's vote to a slop-sized start band
      // (ordinal i matches anywhere in [start+i, start+i+slop]); tf
      // counts distinct matching starts and scores as one Okapi
      // pseudo-term. The battery exercises the semantics' edges: a
      // bigram that gains gapped matches vs its exact form, and a
      // REPEATED-term trigram pinning the documented band-overlap rule.
      // The oracle re-derives every tf by direct windowed string
      // indexing over the raw corpus text in DuckDB — zero shared code
      // with the positional vote.
      val root = s"/tmp/graft_bm25_near_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseTopK(s, root,
          Seq(("n_hash_join", "hash join"),
              ("n_table_scan", "table scan"),
              ("n_batch2", "the batch batch")), k = 10, slop = 1)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    },
    // NEAR-k (sloppy-phrase) oracle (r16): every tf re-derived by DIRECT
    // WINDOWED string indexing — phrase ordinal i matches anywhere in
    // [s+i, s+i+slop] (slop = 1 here), expressed as an AND of per-ordinal
    // ORs over the tokenized text; the engine answers from its positions
    // plane via banded votes, so a band bug (wrong width, off-by-one,
    // missing dedupe) cannot satisfy both. Out-of-range list indexes read
    // NULL in DuckDB, and NULL conjunctions drop out of list_filter —
    // exactly the no-term-there case. The repeated-term trigram pins the
    // documented band-overlap rule (one 'batch' can serve both ordinals).
    // Same Okapi pseudo-term scoring and tie rule as the phrase oracle.
    oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'hash' OR t[s+1] = 'hash') AND (t[s+1] = 'join' OR t[s+2] = 'join'))) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'table' OR t[s+1] = 'table') AND (t[s+1] = 'scan' OR t[s+2] = 'scan'))) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'the' OR t[s+1] = 'the') AND (t[s+1] = 'batch' OR t[s+2] = 'batch') AND (t[s+2] = 'batch' OR t[s+3] = 'batch'))) AS BIGINT) AS tf_bb
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hj,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_ts,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_bb
        |  FROM occ),
        |normed AS (
        |  SELECT occ.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(occ.dl AS DOUBLE) AS nrm
        |  FROM occ, st),
        |scored AS (
        |  SELECT 'n_hash_join' AS query_id, doc_id, dl, tf_hj AS tf,
        |    idf_hj * CAST(tf_hj AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hj AS DOUBLE) + nrm) AS score
        |  FROM normed WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'n_table_scan', doc_id, dl, tf_ts,
        |    idf_ts * CAST(tf_ts AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_ts AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'n_batch2', doc_id, dl, tf_bb,
        |    idf_bb * CAST(tf_bb AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_bb AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_bb > 0)
        |SELECT query_id, rank, doc_id, dl, tf
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)

  gate("search_bm25_near_batch")((s, dir) => {
      // r17: the NEAR-k twin of search_bm25_phrase_batch — the same
      // banded-proximity vote at slop = 1, battery as data, one fixed
      // plan; same battery and windowed-indexing oracle as
      // search_bm25_near, pinning the forms hash-equal.
      import s.implicits._
      val root = s"/tmp/graft_bm25_nb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseBatch(s, root,
          Seq(("n_hash_join", "hash join"),
              ("n_table_scan", "table scan"),
              ("n_batch2", "the batch batch")).toDF("qid", "qtext"),
          "qid", "qtext", k = 10, slop = 1)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle as the per-phrase NEAR form (r17): the banded vote at
    // slop = 1 with the battery as data — hash-equal rows against the
    // same windowed-indexing truth
    oracle = searchBm25Near.sql)

  private val searchHybridRrf = gate("search_hybrid_rrf")((s, dir) => {
      // r12: HYBRID retrieval — the lexical BM25 ranking and the semantic
      // brute-force cosine ranking fused by reciprocal rank (Cormack
      // 2009, k_rrf = 60), the standard no-calibration merge modern
      // retrieval stacks run. Fusion joins only the top-k survivors
      // (never corpus volume); the fixed-order coalesced score terms
      // make even the float rrf_score hash-exact, and the per-source
      // ranks ride along for auditability.
      val bm25 = graft.operators.KeywordSearch.bm25TopK(
          T(s, dir, "documents"), "text", "doc_id",
          Seq(("q_join", "spark hash join"),
              ("q_scan", "fast table scan"),
              ("q_stream", "stream window agg")), k = 10)
        .select("query_id", "doc_id", "rank")
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      val cos = graft.operators.Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", qv, "qid", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrfFuse(Seq(bm25, cos), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"), col("doc_id"),
          col("rrf_score"), col("rank_0").as("bm25_rank"), col("rank_1").as("cosine_rank"))
        .orderBy("query_id", "rank")
    },
    // hybrid retrieval: the BM25 ranking (shared CTEs above) and the
    // brute-force cosine ranking (embed_cosine_topk's formula, query ids
    // mapped onto the battery's) fused by reciprocal rank — fixed-order
    // coalesced terms, so even the float rrf_score is hash-exact
    oracle = s"""WITH $bm25OracleCtes,
        |bm25r AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM scored WHERE score > 0) WHERE rank <= 10),
        |q AS (SELECT CASE vec_id WHEN 0 THEN 'q_join' WHEN 1 THEN 'q_scan' ELSE 'q_stream' END AS query_id,
        |             embedding AS qv FROM embeddings WHERE vec_id < 3),
        |cscored AS (
        | SELECT q.query_id, e.vec_id AS doc_id,
        |  list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))) AS cosine
        | FROM embeddings e, q),
        |cosr AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rank
        |    FROM cscored) WHERE rank <= 10),
        |f AS (
        |  SELECT coalesce(b.query_id, c.query_id) AS query_id,
        |         coalesce(b.doc_id, c.doc_id) AS doc_id,
        |         b.rank AS r0, c.rank AS r1
        |  FROM bm25r b FULL JOIN cosr c ON b.query_id = c.query_id AND b.doc_id = c.doc_id),
        |fs AS (
        |  SELECT query_id, doc_id,
        |         coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r0 AS DOUBLE)), CAST(0 AS DOUBLE))
        |         + coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r1 AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf_score,
        |         r0, r1
        |  FROM f)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_score,
        |       CAST(r0 AS BIGINT) AS bm25_rank, CAST(r1 AS BIGINT) AS cosine_rank
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rank
        |  FROM fs)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)

  gate("search_hybrid_indexed")((s, dir) => {
      // r16: HYBRID retrieval over the PERSISTED stores — the shape a
      // production retrieval stack actually runs (query the posting store
      // and the vector store, fuse by RRF), where search_hybrid_rrf fused
      // the in-flight forms. One truth, reused verbatim: the bm25 side is
      // hash-identical to the literal form over the same corpus (the
      // indexed-gate family's pin), and the ANN side runs the store at
      // its EXACT calibration point — probing every cell with a refine
      // window spanning the corpus makes the exact-cosine re-rank see all
      // live vectors, so the store's ranking IS brute force bit-for-bit
      // (same vec_cosine, same (cosine desc, id asc) tie rule). The fused
      // output therefore shares search_hybrid_rrf's DuckDB re-derivation
      // unchanged — a SIXTH execution form over that truth. The
      // production-parameter (pruned-probe) fusion is gated separately
      // (search_hybrid_indexed_pruned) with plan pins.
      import s.implicits._
      val bmRoot = s"/tmp/graft_hyb_bm25_${tmpToken(dir)}"
      val annRoot = s"/tmp/graft_hyb_ann_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", bmRoot, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", annRoot,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      val bm25 = graft.operators.KeywordSearch.bm25SearchIndexed(
          s, bmRoot, battery, "qid", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      val nVecs = emb.count()
      val cos = graft.operators.AnnIndex.annSearchIndexed(s, annRoot,
          qv, "qid", "embedding", k = 10, nProbe = 16,
          refine = (nVecs / 10L + 1L).toInt)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrfFuse(Seq(bm25, cos), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"), col("doc_id"),
          col("rrf_score"), col("rank_0").as("bm25_rank"), col("rank_1").as("cosine_rank"))
        .orderBy("query_id", "rank")
    },
    // SAME oracle as the in-flight hybrid fusion (r16): over the persisted
    // stores, the bm25 side is hash-identical to the literal form and the
    // ANN side runs at its exact calibration point (all cells probed,
    // refine spanning the corpus ⇒ the exact re-rank IS brute force), so
    // the fused ranking shares the one DuckDB truth verbatim
    oracle = searchHybridRrf.sql)

  gate("search_hybrid_indexed_pruned")((s, dir) => {
      // r16: the PRODUCTION-PARAMETER fused shape — bm25SearchIndexed +
      // annSearchIndexed (nProbe = 8 of 16 cells, refine = 4) through
      // rrfFuse. Approximate probes admit no SQL truth, so the pin is
      // in-plan equality against the fusion of the independently-gated
      // equivalent forms: the literal bm25TopK (hash-identical to the
      // store search by the indexed-gate family) and the in-flight pqTopK
      // over the same corpus (bit-identical to the store search by
      // ann_index_search).
      // Equality here isolates exactly the new surface: the fusion
      // WIRING over the two stores. Store pruning under the fused plan
      // (cell PartitionFilters, pushed term IN) is pinned in
      // PlanAuditSpec.
      import s.implicits._
      val bmRoot = s"/tmp/graft_hybp_bm25_${tmpToken(dir)}"
      val annRoot = s"/tmp/graft_hybp_ann_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", bmRoot, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", annRoot,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val probes = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg"))
      val battery = probes.toDF("qid", "qtext")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      def fused(bm: org.apache.spark.sql.DataFrame,
                ann: org.apache.spark.sql.DataFrame) =
        graft.operators.Fusion.rrfFuse(Seq(
          bm.select("query_id", "doc_id", "rank"),
          ann.select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))),
          k = 10)
      val overStores = fused(
        graft.operators.KeywordSearch.bm25SearchIndexed(
          s, bmRoot, battery, "qid", "qtext", k = 10),
        graft.operators.AnnIndex.annSearchIndexed(s, annRoot,
          qv, "qid", "embedding", k = 10, nProbe = 8, refine = 4))
      val overForms = fused(
        graft.operators.KeywordSearch.bm25TopK(docs, "text", "doc_id",
          probes, k = 10),
        Similarity.pqTopK(emb, "vec_id", "embedding", qv, "qid", "embedding",
          k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2))
      // topKMismatches compares (query_id, rank, neighbor_id, cosine) —
      // the fused surface maps onto it as (doc_id, rrf_score): a rank,
      // document, or float-bit divergence all trip the same counter
      def shaped(f: org.apache.spark.sql.DataFrame) = f.select(
        col("query_id"), col("rank"), col("doc_id").as("neighbor_id"),
        col("rrf_score").as("cosine"))
      val mism = topKMismatches(shaped(overStores), shaped(overForms))
      s.range(1).select(
        lit("hybrid_stores").as("method"), lit(probes.size.toLong).as("n_queries"),
        lit(mism == 0L).as("fused_equals_forms"))
    },
    // r16 production-parameter hybrid fusion over the stores: the
    // equality against the fusion of the independently-gated forms is
    // verified in-plan; the oracle pins it TRUE and re-derives the query
    // count from the battery size
    oracle = """SELECT 'hybrid_stores' AS method, CAST(3 AS BIGINT) AS n_queries,
        |       TRUE AS fused_equals_forms""".stripMargin)

  gate("ann_lsh_topk")((s, dir) => {
      // r11: property-verdict row (closes the last no_oracle pair). The
      // params match ann_recall_check's LSH arm (4 bits × 16 tables) —
      // the defaults' candidate pool at gate SFs is smaller than k, which
      // would make the "k rows per query" invariant vacuous. Recall floors
      // in ann_recall_check are unchanged.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = 4, tables = 16)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "lsh")
    },
    // property-style (r11 — closes the last no_oracle pair): the ANN
    // top-k invariants are verified in-plan (k rows/query with ranks
    // 1..k, deterministic (cosine desc, id asc) tie rule, every neighbor
    // within the pinned slack of the brute-force k-th cosine, reported
    // cosine bit-equal to a vector recompute); the oracle pins them TRUE
    // and re-derives the query count from the table
    oracle = """SELECT 'lsh' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_recall_check")((s, dir) => {
      // property-style oracle for the approximate paths: recall of LSH and
      // IVF top-10 vs the exact brute force, asserted above a floor the
      // oracle pins as TRUE (a recall regression flips the flag)
      import s.implicits._
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("neighbor_id"))
      val bf = pairs(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 10))
        .cache()
      val bfN = math.max(1L, bf.count())
      def recall(ann: org.apache.spark.sql.DataFrame): Column =
        (lit(ann.join(bf, Seq("query_id", "neighbor_id"), "left_semi").count())
          / lit(bfN)).cast(DoubleType)
      val lshR = Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = 4, tables = 16)
      val ivfR = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 8, kmeansIters = 2)
      Seq(("ivf", 0.4), ("lsh", 0.4)).toDF("method", "floor")
        .withColumn("recall_ok",
          when(col("method") === "lsh", recall(pairs(lshR)) >= col("floor"))
            .otherwise(recall(pairs(ivfR)) >= col("floor")))
        .select("method", "recall_ok")
        .orderBy("method")
    },
    // property-style: the oracle pins the recall floors as met
    oracle = """SELECT * FROM (VALUES ('ivf', TRUE), ('lsh', TRUE)) AS t(method, recall_ok)
        |ORDER BY method""".stripMargin)

  gate("ann_ivf_topk", Headline)((s, dir) => {
      // r11: property-verdict row (closes the last no_oracle pair). nProbe
      // raised 4 → 8 to match ann_recall_check's IVF arm: the floor check
      // needs probe coverage whose worst margin clears the pinned slack
      // with headroom (measured: -0.022 at nProbe=8 vs slack 0.1).
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 8, kmeansIters = 2)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "ivf")
    },
    oracle = """SELECT 'ivf' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  // r11: the registered ann_ivf_topk became a property-verdict row
  // (brute-force baseline + four in-plan checks); this row keeps the
  // raw production IVF path separately attributable, with the EXACT
  // parameters the r10 registered row ran (nProbe = 4) so it is the
  // continuation of that row's timing series in the Shared set
  benchOnly("ann_ivf_topk_pipeline", Headline, Shared, Baseline)((s, dir) => {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 10, nCells = 16, nProbe = 4, kmeansIters = 2)
  })

  gate("ann_pq_topk", Headline)((s, dir) => {
      // r11: IVF-PQ — the compressed ANN path (coarse cells bound which
      // vectors a query touches, 8×16 product-quantization codes bound
      // the bytes, exact re-rank restores true cosines). Same
      // property-verdict gate as the LSH/IVF rows; slack 0.15 covers the
      // measured worst margin (-0.043 at sf0.1, bit-identical at 8 and
      // 200 shuffle partitions) with 3.5× headroom.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "pq", slack = 0.15)
    },
    oracle = """SELECT 'pq' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_index_search")((s, dir) => {
      // r14: the PERSISTED IVF-PQ index store — build once (train + encode
      // to cell-partitioned parquet, meta.json last), then search with
      // zero corpus scans and zero re-trainings: probed cells become
      // PartitionFilters, ADC reads only (id, codes, vnorm), the short
      // list re-ranks with exact cosines. Same kernels, probe order, ADC
      // tables, and two-stage top-k as the in-flight pqTopK, so the store
      // path is BIT-IDENTICAL to it — `forms_equal` pins that equality
      // in-plan, alongside the standard ANN property verdict. (The pin
      // ALSO exercises training determinism: build and pqTopK each run
      // the avg()-based k-means/codebook fit, whose float merges are
      // stable in the gate's local environment and under the
      // 200-partition soak; a real multi-executor cluster wanting this
      // exact pin should inject one shared model rather than rely on
      // shuffle-fetch order.)
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val root = s"/tmp/graft_ann_idx_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val idx = graft.operators.AnnIndex.annSearchIndexed(s, root,
          q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
        .localCheckpoint(true) // feeds the verdict's five consumers + the equality join
      val fly = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      val mism = topKMismatches(idx, fly)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
          idx, method = "ivfpq_store", slack = 0.15)
        .withColumn("forms_equal", lit(mism == 0L))
    },
    // r14 persisted IVF-PQ index store: the property verdict plus the
    // in-plan bit-equality of the store path vs the in-flight pqTopK
    // (`forms_equal`) — the oracle pins all booleans TRUE and re-derives
    // the query count from the table
    oracle = """SELECT 'ivfpq_store' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok,
        |       TRUE AS forms_equal
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_index_search_batch")((s, dir) => {
      // r14: a 50-query battery over the persisted store — queries stay
      // data (never collected to the driver), each joins its own probed
      // cells, the ADC inner product computes from the plan-riding
      // codebooks (PqAdcDirect, no per-query driver table), so the plan
      // is CONSTANT in battery size (plan-pinned). `batch_equals_driver`
      // pins bit-identity against the in-flight pqTopK, whose per-query
      // driver-built ADC tables are the independent reference.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 50)
      val root = s"/tmp/graft_ann_bat_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val bat = graft.operators.AnnIndex.annSearchIndexed(s, root,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val fly = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      val mism = topKMismatches(bat, fly)
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_batch").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("batch_equals_driver"))
    },
    oracle = """SELECT 'ivfpq_batch' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS batch_equals_driver
        |FROM embeddings WHERE vec_id < 50""".stripMargin)

  gate("ann_index_append")((s, dir) => {
      // r14: index APPEND — deltas encode under the FROZEN build-time
      // model (batch-0 files immutable, only meta.json moves, written
      // last). The pin: build-on-even + append-odd searches bit-identical
      // to a ONE-SHOT build of the full corpus trained on the same even
      // sample (`train = Some(even)` — the train-on-a-sample workflow) —
      // so append is pure accretion, never a re-train. An appended (odd)
      // vector queried against the store self-hits at rank 1.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd  = emb.filter(col("vec_id") % 2 === 1)
      val rootA = s"/tmp/graft_ann_app_${tmpToken(dir)}"
      val rootB = s"/tmp/graft_ann_one_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootA,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexAppend(s, rootA, odd, "vec_id", "embedding")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootB,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(even), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val a = searched(rootA).localCheckpoint(true)
      val mism = topKMismatches(a, searched(rootB))
      val selfHit = a.filter(col("query_id") === 1 && col("rank") === 1 &&
        col("neighbor_id") === 1 && col("cosine") > 0.999999).count() == 1L
      val nQueries = q.select("vec_id").distinct().count()
      a.sparkSession.range(1).select(
        lit("ivfpq_append").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("append_equals_oneshot"),
        lit(selfHit).as("appended_self_hit"))
    },
    oracle = """SELECT 'ivfpq_append' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS append_equals_oneshot,
        |       TRUE AS appended_self_hit
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_index_compact")((s, dir) => {
      // r14: store COMPACTION — build-even + append-odd (two batch dirs)
      // compacts to a single-batch sibling: model.json copies verbatim
      // (no re-train, no re-encode), rows recluster by cell, the rewrite
      // validates against the source meta before the destination meta
      // commits. Search over the compacted store must be bit-identical
      // to the source store's.
      val emb  = T(s, dir, "embeddings")
      val src = s"/tmp/graft_ann_csrc_${tmpToken(dir)}"
      val dst = s"/tmp/graft_ann_cdst_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", src,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexAppend(s, src,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      graft.operators.AnnIndex.annIndexCompact(s, src, dst, overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val mism = topKMismatches(searched(dst), searched(src))
      val dstMeta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dst, "meta.json")), "UTF-8")
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_compact").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("compact_equals_source"),
        lit(dstMeta.contains("\"batches\": 1")).as("single_batch"))
    },
    oracle = """SELECT 'ivfpq_compact' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS compact_equals_source,
        |       TRUE AS single_batch
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_index_delete")((s, dir) => {
      // r15: the vector DELETE plane — build the FULL corpus, delete the
      // odd half, and pin the search bit-identical to a from-scratch
      // build of the surviving even half under the SAME training input
      // (train = Some(full) — the frozen-model contract makes deletion
      // purely subtractive). Deleted vectors must vanish from the
      // ranking; compaction must drop the tombstoned rows physically,
      // reset the plane, and search identically.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd  = emb.filter(col("vec_id") % 2 === 1)
      val rootA = s"/tmp/graft_ann_del_${tmpToken(dir)}"
      val rootB = s"/tmp/graft_ann_delrb_${tmpToken(dir)}"
      val rootC = s"/tmp/graft_ann_delc_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootA,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexDelete(s, rootA,
        odd.select("vec_id"), "vec_id")
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootB,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(emb), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val a = searched(rootA).localCheckpoint(true)
      val mism = topKMismatches(a, searched(rootB))
      val deletedAbsent = a.filter(col("neighbor_id") % 2 === 1).count() == 0L
      graft.operators.AnnIndex.annIndexCompact(s, rootA, rootC, overwrite = true)
      val mismC = topKMismatches(searched(rootC), a)
      val dropped = s.read.parquet(s"$rootC/vectors/b0")
        .filter(col("id") % 2 === 1).count() == 0L
      val metaC = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootC, "meta.json")), "UTF-8")
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_delete").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("delete_equals_rebuild"),
        lit(deletedAbsent).as("deleted_absent"),
        lit(mismC == 0L).as("compact_equals"),
        lit(dropped && metaC.contains("\"tombBatches\": 0"))
          .as("tombstones_dropped"))
    },
    oracle = """SELECT 'ivfpq_delete' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS delete_equals_rebuild,
        |       TRUE AS deleted_absent,
        |       TRUE AS compact_equals,
        |       TRUE AS tombstones_dropped
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  // r15: the vector-store lifecycle — train + encode + cell-partitioned
  // write, append the odd half under the frozen model, search a 3-query
  // battery (partition-pruned ADC + exact re-rank).
  benchOnly("ann_index_cycle", Headline)((s, dir) => {
    val root = s"/tmp/graft_bench_annidx_${tmpToken(dir)}"
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    graft.operators.AnnIndex.annIndexBuild(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", root,
      nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
    graft.operators.AnnIndex.annIndexAppend(s, root,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    graft.operators.AnnIndex.annSearchIndexed(s, root,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 10, nProbe = 8, refine = 4)
  })

  gate("ann_index_search_filtered")((s, dir) => {
      // r16: FILTERED vector search — a predicate over the store rows
      // applied PRE-RANK, so the k·refine short list draws entirely from
      // survivors (refill by construction: disallowed vectors never
      // occupy short-list slots). The pin: filtering the FULL store to
      // the even ids searches bit-identically to an unfiltered search of
      // a store holding ONLY the even vectors under the same frozen
      // model (train = full corpus on both sides). `batch_equals_driver`
      // pins the filtered search at its EXACT calibration point (every
      // cell probed, refine spanning the corpus) against brute force over
      // the allowed ids. Disallowed ids must never appear. Cell pruning
      // surviving the predicate is plan-pinned in PlanAuditSpec.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val rootF = s"/tmp/graft_ann_filt_${tmpToken(dir)}"
      val rootR = s"/tmp/graft_ann_filtr_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootF,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootR,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(emb), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      val pred = Some(col("id") % 2 === 0)
      val filtered = graft.operators.AnnIndex.annSearchIndexed(s, rootF,
          q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4,
          predicate = pred)
        .localCheckpoint(true) // three consumers below
      val restricted = graft.operators.AnnIndex.annSearchIndexed(s, rootR,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val exact = graft.operators.AnnIndex.annSearchIndexed(s, rootF,
        q, "vec_id", "embedding", k = 10, nProbe = 16,
        refine = (emb.count() / 10L + 1L).toInt, predicate = pred)
      val brute = Similarity.bruteForceTopK(even, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val mism = topKMismatches(filtered, restricted)
      val mismB = topKMismatches(exact, brute)
      val disallowed = filtered.filter(col("neighbor_id") % 2 === 1).count()
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_filtered").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("filtered_equals_restricted_store"),
        lit(mismB == 0L).as("batch_equals_driver"),
        lit(disallowed == 0L).as("only_allowed_ids"))
    },
    // r16 filtered vector search: equality to the restricted-store search
    // and, at the calibration point, to brute force are verified in-plan;
    // the oracle pins them TRUE and re-derives the query count
    oracle = """SELECT 'ivfpq_filtered' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS filtered_equals_restricted_store,
        |       TRUE AS batch_equals_driver,
        |       TRUE AS only_allowed_ids
        |FROM embeddings WHERE vec_id < 3""".stripMargin)

  gate("ann_index_search_filtered_refill")((s, dir) => {
      // r17: REFILL for filtered search — the r16 form was honest but
      // could silently return < k when a selective predicate's survivors
      // cluster in unprobed cells; refill = true re-probes starved
      // queries with doubled probe counts up to the full cell span. The
      // fixture engineers deterministic starvation at ANY scale: the
      // predicate confines survivors to ONE cell that is not the query's
      // own (the corpus assignment = the query's first probe, same
      // kernel), so the 1-probe search returns ZERO rows, and because
      // survivors occupy a single cell, whichever widening round first
      // probes it sees ALL of them — with refine sized to cover the cell,
      // the refilled top-k is EXACT brute force over the survivors,
      // bit-for-bit (cosine bits included, same tie rule).
      val emb  = T(s, dir, "embeddings")
      val root = s"/tmp/graft_ann_rfl_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val q = emb.filter(col("vec_id") === 7)
      val store0 = s.read.parquet(s"$root/vectors/b0").select("id", "cell", "vec")
        .localCheckpoint(true) // three consumers below
      val qCell = store0.filter(col("id") === 7).select("cell").head().getInt(0)
      val fRow = store0.filter(col("cell") =!= qCell).groupBy("cell")
        .agg(count(lit(1)).as("members"))
        .orderBy(col("members").desc, col("cell").asc).head()
      val fCell = fRow.getInt(0)
      val nSurv = fRow.getLong(1)
      val k = 5
      val refine = math.max(4, math.ceil(nSurv.toDouble / k).toInt)
      val pred = Some(col("cell") === fCell)
      val dry = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred)
      val refilled = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred, refill = true)
      import graft.functions.VectorFunctions.vec_cosine
      val qv = q.select("embedding").head().getSeq[Float](0)
      val brute = store0.filter(col("cell") === fCell)
        .select(col("id").as("neighbor_id"),
          vec_cosine(col("vec"), typedLit(qv)).as("cosine"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc).limit(k)
        .collect().map(r =>
          (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      val got = refilled.orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine"))))
      s.range(1).select(
        lit("ivfpq_refill").as("method"), lit(1L).as("n_queries"),
        lit(nSurv >= k).as("fixture_has_k_survivors"),
        lit(dry.count() == 0L).as("starved_without_refill"),
        lit(got.length == k).as("refill_fills_k"),
        lit(got.sameElements(brute)).as("equals_brute_force"))
    },
    // r17 refill: starvation, the k-fill, and bit-equality to brute force
    // over the single-cell survivor set are verified in-plan; the oracle
    // pins them TRUE
    oracle = """SELECT 'ivfpq_refill' AS method, CAST(1 AS BIGINT) AS n_queries,
        |       TRUE AS fixture_has_k_survivors,
        |       TRUE AS starved_without_refill,
        |       TRUE AS refill_fills_k,
        |       TRUE AS equals_brute_force""".stripMargin)

  gate("ann_index_search_filtered_refill_batch")((s, dir) => {
      // r18: REFILL's widening rounds — starved ids by anti-join, doubled
      // probes as a cell-equality join; queries never collect. Same
      // deterministic-starvation fixture as ann_index_search_filtered_refill:
      // the predicate confines survivors to ONE cell that is not the
      // query's first probe, so the 1-probe search returns ZERO rows, and
      // whichever widening round first probes that cell sees ALL
      // survivors — the refilled top-k is EXACT brute force over them,
      // bit-for-bit. Additionally pinned: the refill took widening rounds
      // and equals the plain (refill = false) search at its last round's
      // probe count (`equals_driver_refill`), and widening fires ONLY on
      // starved queries (an unstarved battery runs exactly one pass).
      val emb  = T(s, dir, "embeddings")
      val root = s"/tmp/graft_ann_rflb_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val q = emb.filter(col("vec_id") === 7)
      val store0 = s.read.parquet(s"$root/vectors/b0").select("id", "cell", "vec")
        .localCheckpoint(true) // three consumers below
      val qCell = store0.filter(col("id") === 7).select("cell").head().getInt(0)
      val fRow = store0.filter(col("cell") =!= qCell).groupBy("cell")
        .agg(count(lit(1)).as("members"))
        .orderBy(col("members").desc, col("cell").asc).head()
      val fCell = fRow.getInt(0)
      val nSurv = fRow.getLong(1)
      val k = 5
      val refine = math.max(4, math.ceil(nSurv.toDouble / k).toInt)
      val pred = Some(col("cell") === fCell)
      def bits(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine"))))
      val dry = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred)
      val got = bits(graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred, refill = true))
      val rounds = graft.operators.AnnIndex.lastRefillRounds.get().intValue
      val plainAtLastRound = bits(graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1 << (rounds - 1), refine = refine,
        predicate = pred))
      // unstarved control: one pass only, rows bit-equal to refill = false
      val calmA = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 8, refine = 4)
        .orderBy("rank").collect().map(_.toSeq)
      val calmB = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 8, refine = 4, refill = true)
        .orderBy("rank").collect().map(_.toSeq)
      val onePass = graft.operators.AnnIndex.lastRefillRounds.get() == 1
      import graft.functions.VectorFunctions.vec_cosine
      val qv = q.select("embedding").head().getSeq[Float](0)
      val brute = store0.filter(col("cell") === fCell)
        .select(col("id").as("neighbor_id"),
          vec_cosine(col("vec"), typedLit(qv)).as("cosine"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc).limit(k)
        .collect().map(r =>
          (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      s.range(1).select(
        lit("ivfpq_refill_batch").as("method"), lit(1L).as("n_queries"),
        lit(nSurv >= k).as("fixture_has_k_survivors"),
        lit(dry.count() == 0L).as("starved_without_refill"),
        lit(got.length == k).as("refill_fills_k"),
        lit(got.sameElements(brute)).as("equals_brute_force"),
        lit(rounds > 1 && got.sameElements(plainAtLastRound)).as("equals_driver_refill"),
        lit(calmA.sameElements(calmB) && onePass).as("widens_only_on_starved"))
    },
    // r18 refill rounds: same fixture; additionally pins bit-equality to
    // the plain search at the last round's probe count and one-pass
    // behavior on an unstarved battery
    oracle = """SELECT 'ivfpq_refill_batch' AS method, CAST(1 AS BIGINT) AS n_queries,
        |       TRUE AS fixture_has_k_survivors,
        |       TRUE AS starved_without_refill,
        |       TRUE AS refill_fills_k,
        |       TRUE AS equals_brute_force,
        |       TRUE AS equals_driver_refill,
        |       TRUE AS widens_only_on_starved""".stripMargin)

  gate("pipeline_semdedup", Headline, Shared)((s, dir) => {
      // SemDeDup (cluster + greedy keep-first prune, Dedup.semanticDedup):
      // centroid means are float sums whose exact values depend on partial
      // aggregation order, so the oracle pins ORDER-INVARIANT properties
      // instead of per-doc rows (the ann_recall_check convention): every
      // doc appears exactly once; no two KEPT docs share a cluster at
      // cosine >= threshold; every DROPPED doc's dup_of is an earlier
      // same-cluster doc above threshold and is the EARLIEST such doc.
      val emb = T(s, dir, "embeddings")
      val t = 0.4
      val res = Dedup.semanticDedup(emb, "vec_id", "embedding",
          threshold = t, nCells = 8, kmeansIters = 2)
        .localCheckpoint(true) // five consumers below; also pins one clustering
      val vecs = emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("__v"))
      val keptPairViolations = res.filter(col("keep"))
        .select(col("cell"), col("id").as("id_a"))
        .join(res.filter(col("keep")).select(col("cell"), col("id").as("id_b")), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .join(vecs.select(col("id").as("id_a"), col("__v").as("__va")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("__v").as("__vb")), "id_b")
        .filter(graft.functions.VectorFunctions.vec_cosine(col("__va"), col("__vb")) >= t)
        .count()
      val dropped = res.filter(!col("keep"))
      val badShadow = dropped
        .join(vecs, Seq("id"))
        .join(vecs.select(col("id").as("dup_of"), col("__v").as("__vd")), Seq("dup_of"))
        .filter(col("dup_of") >= col("id") ||
          graft.functions.VectorFunctions.vec_cosine(col("__v"), col("__vd")) < t)
        .count()
      // dup_of must be the EARLIEST same-cluster shadow: no j < dup_of
      // in the same cell with cosine >= t
      val notEarliest = dropped
        .join(vecs, Seq("id"))
        .join(res.select(col("cell"), col("id").as("j")), Seq("cell"))
        .filter(col("j") < col("dup_of"))
        .join(vecs.select(col("id").as("j"), col("__v").as("__vj")), Seq("j"))
        .filter(graft.functions.VectorFunctions.vec_cosine(col("__v"), col("__vj")) >= t)
        .count()
      import s.implicits._
      Seq((res.count(), keptPairViolations, badShadow, notEarliest,
          dropped.count() > 0))
        .toDF("n_total", "kept_pair_violations", "bad_shadow", "not_earliest",
          "any_dropped")
    },
    // property-style (ann_recall_check convention): the greedy keep-first
    // invariants are order-invariant even though the kmeans centroid float
    // sums are not; n_total re-derived from the table by DuckDB
    oracle = """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(0 AS BIGINT) AS kept_pair_violations,
        |       CAST(0 AS BIGINT) AS bad_shadow,
        |       CAST(0 AS BIGINT) AS not_earliest,
        |       TRUE AS any_dropped
        |FROM embeddings""".stripMargin)

  benchOnly("pipeline_semdedup_pipeline", Headline, Shared)((s, dir) =>
    Dedup.semanticDedup(
      s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      threshold = 0.4, nCells = 8, kmeansIters = 2))
}
