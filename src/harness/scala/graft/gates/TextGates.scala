package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

import Tag._

/** The text-analysis extension family: language id, quality signals, Gopher
  * and C4 rules, repetition, token counts and fingerprints. */
object TextGates extends GateFamily {

  // ===== extensions: text analysis =====

  gate("text_lang_id")((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("guess"))
        .orderBy("doc_id")
    },
    oracle = """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_transform(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''),
        |                   x -> regexp_replace(x, '[^\p{L}]', '', 'g')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(['the','and','of','to','in','is','that','it','for','with'], w -> list_contains(t, w))) AS h_en,
        |    len(list_filter(['der','die','das','und','ist','nicht','ein','mit','für','auf'], w -> list_contains(t, w))) AS h_de,
        |    len(list_filter(['le','la','les','et','est','pas','une','pour','dans','que'], w -> list_contains(t, w))) AS h_fr,
        |    len(list_filter(['el','la','los','y','es','no','una','para','en','que'], w -> list_contains(t, w))) AS h_es
        |  FROM tk)
        |SELECT doc_id, lang,
        |  CASE WHEN m > 0 AND (CAST(h_en = m AS INT) + CAST(h_de = m AS INT) + CAST(h_fr = m AS INT) + CAST(h_es = m AS INT)) = 1
        |       THEN CASE WHEN h_en = m THEN 'en' WHEN h_de = m THEN 'de' WHEN h_fr = m THEN 'fr' ELSE 'es' END
        |       ELSE 'und' END AS guess
        |FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es) AS m FROM h)
        |ORDER BY doc_id""".stripMargin)

  gate("text_quality", Headline, Shared, Baseline)((s, dir) => {
      TextAnalysis.qualityFeatures(T(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_alpha", "n_space", "alpha_ratio", "mean_token_len")
        .orderBy("doc_id")
    },
    oracle = """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
        | CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS INT) AS n_space,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        | CAST(length(text) - (length(text) - length(regexp_replace(text, ' ', '', 'g'))) AS DOUBLE)
        |   / CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS mean_token_len
        | FROM documents ORDER BY doc_id""".stripMargin)

  gate("text_gopher_rules", Headline, Shared)((s, dir) => {
      // Gopher quality-filter rules (Rae et al. 2021 A1) — per-rule
      // booleans + the keep conjunction, every ratio compared by integer
      // cross-multiplication so the DuckDB oracle is bit-exact
      TextAnalysis.gopherRules(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("id")
    },
    // same integer cross-multiplied thresholds as the operator; words are
    // the lowercased whitespace tokens, lines the nonempty newline splits
    oracle = """WITH base AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(
        |                regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS w,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) // 3
        |      + (length(text) - length(replace(text, chr(8230), ''))) AS n_ell
        |  FROM documents),
        |feat AS (
        |  SELECT id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_w,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ltrim(l) LIKE chr(8226) || '%'
        |      OR ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS BIGINT) AS bullet_l,
        |    CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...'
        |      OR rtrim(l) LIKE '%' || chr(8230))) AS BIGINT) AS ell_l,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
        |    n_hash, n_ell
        |  FROM base)
        |SELECT id, n_words,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS r_mean_word_len,
        |  n_words > 0 AND (n_hash + n_ell) * 10 <= n_words AS r_symbol_ratio,
        |  n_lines = 0 OR bullet_l * 10 <= n_lines * 9 AS r_bullet_lines,
        |  n_lines = 0 OR ell_l * 10 <= n_lines * 3 AS r_ellipsis_lines,
        |  n_words > 0 AND alpha_w * 5 >= n_words * 4 AS r_alpha_words,
        |  stop_hits >= 2 AS r_stop_words,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |    AND (n_words > 0 AND (n_hash + n_ell) * 10 <= n_words)
        |    AND (n_lines = 0 OR bullet_l * 10 <= n_lines * 9)
        |    AND (n_lines = 0 OR ell_l * 10 <= n_lines * 3)
        |    AND (n_words > 0 AND alpha_w * 5 >= n_words * 4)
        |    AND (stop_hits >= 2) AS gopher_keep
        |FROM feat ORDER BY id""".stripMargin)

  gate("text_c4_clean")((s, dir) => {
      // C4 line+page cleaning. The single-line punctuation-free corpus
      // becomes a deterministic five-line page (the dup_fragments
      // construction pattern): a long kept sentence, an unpunctuated
      // 40-char fragment (dropped), a short kept sentence, a javascript
      // boilerplate line (dropped), and — on every 5th doc — a brace
      // line that trips the page-level code gate
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(col("text"), lit(".")),
          substring(col("text"), 1, 40),
          lit("the data pipeline works well."),
          lit("please enable javascript to continue."),
          when(col("doc_id") % 5 === 0, lit("config = { verbose }"))
            .otherwise(lit("a clean closing line."))).as("text"))
      TextAnalysis.c4Clean(docs, "text", "doc_id").orderBy("id")
    },
    // identical page construction, then the same line/page rules: RE2's
    // (?i)\bjavascript\b and [.!?"]$ behave identically to Java regex here
    oracle = """WITH src AS (
        |  SELECT doc_id, text || '.' || chr(10) || substring(text, 1, 40) || chr(10)
        |    || 'the data pipeline works well.' || chr(10)
        |    || 'please enable javascript to continue.' || chr(10)
        |    || CASE WHEN doc_id % 5 = 0 THEN 'config = { verbose }'
        |            ELSE 'a clean closing line.' END AS text
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'), w -> w <> '')) >= 3
        |      AND NOT regexp_matches(l, '(?i)\bjavascript\b')) AS kept
        |  FROM src),
        |f AS (
        |  SELECT doc_id AS id, array_to_string(kept, chr(10)) AS clean_text,
        |    CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |    CAST(length(array_to_string(kept, chr(10)))
        |      - length(regexp_replace(array_to_string(kept, chr(10)), '[.!?]', '', 'g'))
        |      AS BIGINT) AS n_sentences,
        |    (contains(text, '{') OR contains(text, '}')) AS has_brace,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem
        |  FROM k)
        |SELECT id, clean_text, n_lines_kept, n_sentences, has_brace, has_lorem,
        |       (n_sentences >= 3 AND NOT has_brace AND NOT has_lorem) AS keep
        |FROM f ORDER BY id""".stripMargin)

  gate("text_dup_fragments")((s, dir) => {
      // Gopher duplicate line/paragraph fractions. The corpus is
      // single-line, so the query builds a deterministic multi-fragment
      // twin — each doc becomes (text ¶ prefix40 ¶ prefix40) — and the
      // oracle applies the identical construction; the duplicated prefix
      // paragraphs give every doc a nonzero dup fraction
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n", col("text"),
          substring(col("text"), 1, 40), substring(col("text"), 1, 40)).as("text"))
      TextAnalysis.duplicateFragmentFractions(docs, "text", "doc_id")
        .orderBy("id")
    },
    // identical fragment construction, then per-fragment counting: every
    // occurrence of a fragment with count >= 2 is duplicated (Gopher)
    oracle = """WITH src AS (
        |  SELECT doc_id, text || chr(10) || chr(10) || substring(text, 1, 40)
        |           || chr(10) || chr(10) || substring(text, 1, 40) AS text
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    list_filter(list_transform(regexp_split_to_array(text, '\n\s*\n'),
        |                p -> regexp_replace(trim(p), '\s+', ' ', 'g')),
        |                p -> p <> '') AS paras
        |  FROM src),
        |lc AS (
        |  SELECT doc_id, frag, COUNT(*) AS c FROM fr, UNNEST(lines) AS u(frag)
        |  GROUP BY doc_id, frag),
        |ls AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
        |         CAST(SUM(c * length(frag)) AS BIGINT) AS tot_ch,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_n,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(frag) END), 0) AS BIGINT) AS dup_ch
        |  FROM lc GROUP BY doc_id),
        |pc AS (
        |  SELECT doc_id, frag, COUNT(*) AS c FROM fr, UNNEST(paras) AS u(frag)
        |  GROUP BY doc_id, frag),
        |ps AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_paras,
        |         CAST(SUM(c * length(frag)) AS BIGINT) AS tot_ch,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_n,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(frag) END), 0) AS BIGINT) AS dup_ch
        |  FROM pc GROUP BY doc_id)
        |SELECT ls.doc_id AS id, ls.n_lines,
        |  CAST(ls.dup_n AS DOUBLE) / CAST(ls.n_lines AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN ls.tot_ch > 0
        |       THEN CAST(ls.dup_ch AS DOUBLE) / CAST(ls.tot_ch AS DOUBLE) ELSE 0.0 END
        |    AS dup_line_char_frac,
        |  ps.n_paras,
        |  CAST(ps.dup_n AS DOUBLE) / CAST(ps.n_paras AS DOUBLE) AS dup_para_frac,
        |  CASE WHEN ps.tot_ch > 0
        |       THEN CAST(ps.dup_ch AS DOUBLE) / CAST(ps.tot_ch AS DOUBLE) ELSE 0.0 END
        |    AS dup_para_char_frac
        |FROM ls JOIN ps USING (doc_id)
        |ORDER BY id""".stripMargin)

  gate("text_repetition_ngrams")((s, dir) => {
      // Gopher repetition n-gram filters: top-bigram char fraction +
      // merged dup-5-gram char coverage, each from ONE zero-shuffle scan
      // expression (RepetitionStats) — the oracle re-derives both with
      // SQL window/island arithmetic over the same token lists
      TextAnalysis.repetitionNgramFractions(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("id")
    },
    // independent SQL re-derivation of both repetition fractions: bigram
    // counting + row_number top pick, dup-5-gram island merge (the
    // dedup_substring oracle pattern) + char coverage via list slicing
    oracle = """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt,
        |    CAST(list_sum(list_transform(t, x -> length(x)))
        |         + CASE WHEN len(t) > 1 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS total_chars
        |  FROM toks WHERE len(t) > 0),
        |g2 AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
        |  FROM base, UNNEST(range(1, nt)) AS r(i)),
        |t2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
        |top2 AS (
        |  SELECT doc_id, c AS top_count, length(gram) AS top_len FROM (
        |    SELECT doc_id, gram, c,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |    FROM t2) WHERE rn = 1),
        |g5 AS (
        |  SELECT doc_id, i - 1 AS s, i + 3 AS e, array_to_string(t[i:i+4], ' ') AS gram
        |  FROM base, UNNEST(range(1, nt - 3)) AS r(i)),
        |d5 AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
        |marked AS (SELECT g.doc_id, g.s, g.e FROM g5 g JOIN d5 d USING (doc_id, gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
        |              THEN 1 ELSE 0 END AS ni
        |  FROM marked),
        |num AS (SELECT doc_id, s, e,
        |               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp_no
        |        FROM isl),
        |spans AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM num GROUP BY doc_id, grp_no),
        |dup5 AS (
        |  SELECT sp.doc_id,
        |         CAST(SUM(length(array_to_string(b.t[sp.s + 1:sp.e + 1], ' '))) AS BIGINT)
        |           AS dup_chars
        |  FROM spans sp JOIN base b USING (doc_id) GROUP BY sp.doc_id)
        |SELECT b.doc_id AS id, b.total_chars,
        |  CAST(COALESCE(top2.top_count, 0) AS BIGINT) AS top_ngram_count,
        |  CASE WHEN COALESCE(top2.top_count, 0) >= 2
        |       THEN CAST(top2.top_count * top2.top_len AS DOUBLE) / CAST(b.total_chars AS DOUBLE)
        |       ELSE 0.0 END AS top_ngram_char_frac,
        |  CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / CAST(b.total_chars AS DOUBLE)
        |    AS dup_ngram_char_frac
        |FROM base b LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 d ON b.doc_id = d.doc_id
        |ORDER BY id""".stripMargin)

  gate("text_token_count")((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },
    oracle = """SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin)

  gate("text_fingerprint")((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },
    oracle = """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        | FROM documents ORDER BY doc_id""".stripMargin)
}
