package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure codegen'd
  * expressions — they run inside whole-stage codegen over the parquet scan,
  * so at 100 TB the cost is the scan itself.
  */
object TextAnalysis {

  /** Whitespace tokens (Java regex `\s`), empties removed: the byte-scan
    * [[graft.functions.WhitespaceTokens]] kernel, one codegen'd call per
    * row. */
  def tokens(c: Column): Column = graft.functions.TextFunctions.whitespace_tokens(c)

  /** Token count: the size of [[tokens]], read from the one-pass
    * [[graft.functions.QualityCounts]] scan, which builds no token. */
  def tokenCount(c: Column): Column =
    graft.functions.TextFunctions.quality_counts(c).getField("n_tokens")

  // ------------------------------------------------------------- language ID

  /** Tiny stopword inventories for the n-gram/stopword-ratio heuristic. */
  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "para", "en", "que"),
  )

  /** Per-language stopword hit count over the token array. */
  def stopwordHits(toksCol: Column, lang: String): Column =
    size(array_intersect(toksCol, array(stopwords(lang).map(lit): _*)))

  /** Heuristic language ID: the language whose stopword inventory hits the
    * token set most; ties and zero-hit rows → "und" (undetermined). A tie is
    * detected by ranking the per-language (hits, lang) structs and comparing
    * the top two hit counts. */
  def langId(textCol: Column): Column = {
    val toks = transform(tokens(lower(textCol)), t => regexp_replace(t, "[^\\p{L}]", ""))
    val scored = array(stopwords.keys.toSeq.sorted.map { lang =>
      struct(stopwordHits(toks, lang).as("hits"), lit(lang).as("lang"))
    }: _*)
    val ranked = sort_array(scored, asc = false)
    val best   = ranked.getItem(0)
    val second = ranked.getItem(1)
    when(best.getField("hits") > 0 && best.getField("hits") > second.getField("hits"),
      best.getField("lang")).otherwise(lit("und"))
  }

  // ---------------------------------------------------------- quality scores

  /** Structural quality features: lengths, ratios. All exact integer/double
    * arithmetic so a SQL oracle can reproduce them bit-for-bit. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    // n_tokens … n_space come from one byte scan (QualityCounts), staged
    // as one struct column so each row is scanned once
    val staged = df.withColumn("n_chars_m", length(c))
      .withColumn("__q", graft.functions.TextFunctions.quality_counts(c))
    graft.functions.QualityCounts.fields
      .foldLeft(staged)((f, name) => f.withColumn(name, col(s"__q.$name")))
      .drop("__q")
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          (length(c) - col("n_space")).cast(DoubleType) / col("n_tokens").cast(DoubleType)))
      .withColumn("alpha_ratio",
        when(length(c) > 0, col("n_alpha").cast(DoubleType) / length(c).cast(DoubleType)))
      .withColumn("punct_ratio",
        when(length(c) > 0, col("n_punct").cast(DoubleType) / length(c).cast(DoubleType)))
  }

  /** Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446,
    * Appendix A1) as per-rule boolean columns plus their conjunction
    * `gopher_keep` — the per-document heuristics every large-scale text
    * pipeline applies before training:
    *
    *  - `r_word_count`: word count in [minWords, maxWords];
    *  - `r_mean_word_len`: mean word length in [3, 10] characters;
    *  - `r_symbol_ratio`: (# '#' chars + '...' / '…' occurrences) to
    *    words at most 1/10 (Gopher removes on "greater than 0.1", so
    *    exactly 0.1 keeps — same boundary reading as the line rules);
    *  - `r_bullet_lines`: at most 9/10 of nonempty lines start with a
    *    bullet ('•', '-', '*') — Gopher removes on "more than 90%", so
    *    exactly 90% keeps;
    *  - `r_ellipsis_lines`: at most 3/10 of nonempty lines end with an
    *    ellipsis (same boundary reading);
    *  - `r_alpha_words`: at least 4/5 of words contain an alphabetic
    *    character;
    *  - `r_stop_words`: at least 2 distinct of the 8 English function
    *    words {the, be, to, of, and, that, have, with} appear.
    *
    * Every ratio threshold compares via INTEGER cross-multiplication
    * (e.g. `alpha_words * 5 >= n_words * 4`), so a SQL oracle reproduces
    * each rule bit-for-bit — no float round-trip anywhere. Words are the
    * lowercased whitespace tokens of [[tokens]]; lines split on newline
    * and blank lines are excluded from the line-rule denominators.
    * Documents with zero words fail the word-dependent rules (their
    * ratios are undefined and Gopher drops them via the count bound). */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    df.select(col(idCol).as("id"),
        gopherStruct(col(textCol), minWords, maxWords).as("__g"))
      .select(col("id"), col("__g.n_words"), col("__g.r_word_count"),
        col("__g.r_mean_word_len"), col("__g.r_symbol_ratio"),
        col("__g.r_bullet_lines"), col("__g.r_ellipsis_lines"),
        col("__g.r_alpha_words"), col("__g.r_stop_words"), col("__g.gopher_keep"))

  /** The Gopher rule set as ONE struct-valued column over the raw text —
    * the column-level form [[gopherRules]] flattens, exposed so a
    * composed quality gate can evaluate every filter plane inside a
    * single scan (codegen's common-subexpression elimination shares the
    * token/line arrays across the rules, as the former projection chain
    * did). */
  def gopherStruct(c: Column, minWords: Int = 50, maxWords: Int = 100000): Column = {
    val w = tokens(c)
    val lines = filter(split(c, "\n"), l => trim(l) =!= "")
    val nHash = length(c) - length(regexp_replace(c, "#", ""))
    val nEll = ((length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3) +
      (length(c) - length(regexp_replace(c, "…", "")))
    val nWords = size(w).cast(LongType)
    val sumLen = aggregate(w, lit(0L), (a, x) => a + length(x))
    val alphaW = size(filter(w, t => t.rlike("[a-z]"))).cast(LongType)
    val nLines = size(lines).cast(LongType)
    val bulletL = size(filter(lines,
      l => ltrim(l).startsWith("•") || ltrim(l).startsWith("-") ||
        ltrim(l).startsWith("*"))).cast(LongType)
    val ellL = size(filter(lines,
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast(LongType)
    val stopHits = size(array_intersect(array_distinct(w),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)))
      .cast(LongType)
    val rWordCount = nWords.between(minWords.toLong, maxWords.toLong)
    val rMeanWordLen = nWords > 0 && sumLen >= nWords * 3 && sumLen <= nWords * 10
    val rSymbolRatio = nWords > 0 && (nHash + nEll) * 10 <= nWords
    val rBulletLines = nLines === 0 || bulletL * 10 <= nLines * 9
    val rEllipsisLines = nLines === 0 || ellL * 10 <= nLines * 3
    val rAlphaWords = nWords > 0 && alphaW * 5 >= nWords * 4
    val rStopWords = stopHits >= 2
    struct(
      nWords.as("n_words"),
      rWordCount.as("r_word_count"),
      rMeanWordLen.as("r_mean_word_len"),
      rSymbolRatio.as("r_symbol_ratio"),
      rBulletLines.as("r_bullet_lines"),
      rEllipsisLines.as("r_ellipsis_lines"),
      rAlphaWords.as("r_alpha_words"),
      rStopWords.as("r_stop_words"),
      (rWordCount && rMeanWordLen && rSymbolRatio && rBulletLines &&
        rEllipsisLines && rAlphaWords && rStopWords).as("gopher_keep"))
  }

  /** Gopher repetition n-gram filters (Rae et al. 2021 A1, the n-gram
    * half) — per doc, from ONE zero-shuffle scan expression
    * ([[graft.functions.RepetitionStats]]):
    *  - `top_ngram_char_frac`: chars inside every occurrence of the most
    *    frequent `topN`-gram / total chars (0 when it occurs only once —
    *    a unique n-gram is not repetition);
    *  - `dup_ngram_char_frac`: chars covered by any occurrence of any
    *    `dupN`-gram appearing ≥ 2 times, overlaps merged.
    * Characters count over the whitespace-normalized text; both
    * fractions divide exact integers, so a SQL oracle matches
    * bit-for-bit. Docs with no tokens drop (no text → no repetition,
    * the [[repetitionSignals]] convention). */
  def repetitionNgramFractions(df: DataFrame, textCol: String, idCol: String,
                               topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"n-gram sizes must be >= 1 ($topN, $dupN)")
    import graft.functions.TextFunctions.repetition_stats
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("__w"))
      .where(size(col("__w")) > 0)
      .select(col("id"),
        repetition_stats(col("__w"), topN).as("__t"),
        repetition_stats(col("__w"), dupN).as("__d"))
      .select(col("id"),
        col("__t.total_chars").as("total_chars"),
        col("__t.top_count").as("top_ngram_count"),
        when(col("__t.top_count") >= 2,
          col("__t.top_chars").cast(DoubleType) / col("__t.total_chars").cast(DoubleType))
          .otherwise(lit(0.0)).as("top_ngram_char_frac"),
        (col("__d.dup_chars").cast(DoubleType) / col("__d.total_chars").cast(DoubleType))
          .as("dup_ngram_char_frac"))
  }

  /** Gopher duplicate line / paragraph fractions (Rae et al. 2021 A1, the
    * fragment half): per doc,
    *  - `dup_line_frac` / `dup_line_char_frac`: fraction of nonempty
    *    lines (and of their characters) occurring ≥ 2 times verbatim —
    *    every occurrence counts, per Gopher;
    *  - `dup_para_frac` / `dup_para_char_frac`: same over blank-line
    *    separated paragraphs (each paragraph's internal whitespace
    *    normalized to single spaces so a reflowed duplicate still
    *    matches).
    * Zero shuffle ([[graft.functions.FragmentDupStats]] per row); docs
    * with no nonempty lines drop. Fractions divide exact integers. */
  def duplicateFragmentFractions(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import graft.functions.TextFunctions.fragment_dup_stats
    val c = col(textCol)
    val lines = filter(transform(split(c, "\n"), l => trim(l)), l => l =!= "")
    val paras = filter(transform(split(c, "\n\\s*\n"),
      p => regexp_replace(trim(p), "\\s+", " ")), p => p =!= "")
    df.select(col(idCol).as("id"), lines.as("__l"), paras.as("__p"))
      .where(size(col("__l")) > 0)
      .select(col("id"),
        fragment_dup_stats(col("__l")).as("__dl"),
        fragment_dup_stats(col("__p")).as("__dp"))
      .select(col("id"),
        col("__dl.n_frags").as("n_lines"),
        (col("__dl.dup_frags").cast(DoubleType) / col("__dl.n_frags").cast(DoubleType))
          .as("dup_line_frac"),
        when(col("__dl.total_chars") > 0,
          col("__dl.dup_chars").cast(DoubleType) / col("__dl.total_chars").cast(DoubleType))
          .otherwise(lit(0.0)).as("dup_line_char_frac"),
        col("__dp.n_frags").as("n_paras"),
        (col("__dp.dup_frags").cast(DoubleType) / col("__dp.n_frags").cast(DoubleType))
          .as("dup_para_frac"),
        when(col("__dp.total_chars") > 0,
          col("__dp.dup_chars").cast(DoubleType) / col("__dp.total_chars").cast(DoubleType))
          .otherwise(lit(0.0)).as("dup_para_char_frac"))
  }

  /** C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2), as a
    * single scan-stage pass of pure column expressions:
    *
    * line KEPT iff (after trimming) it ends in terminal punctuation
    * (`.` `!` `?` `"`), has ≥ `minLineWords` words, and does not contain
    * the word "javascript" (the paper's enable-javascript boilerplate
    * line rule); page DROPPED iff the kept text has fewer than
    * `minSentences` sentences (terminal-punctuation occurrences), or the
    * ORIGINAL page contains a curly brace (code) or the phrase
    * "lorem ipsum".
    *
    * Out of scope, documented: the paper's bad-words list (user-supplied
    * lookup) and its cross-page three-sentence dedup
    * ([[graft.operators.Dedup.exactSubstringSpans]]'s job).
    * Output: (id, clean_text, n_lines_kept, n_sentences, has_brace,
    * has_lorem, keep). */
  def c4Clean(df: DataFrame, textCol: String, idCol: String,
              minLineWords: Int = 3, minSentences: Int = 3): DataFrame = {
    val c = col(textCol)
    val kept = filter(transform(split(c, "\n"), l => trim(l)), l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= minLineWords &&
        !l.rlike("(?i)\\bjavascript\\b"))
    df.select(col(idCol).as("id"), c.as("__t"), kept.as("__k"))
      .select(col("id"),
        array_join(col("__k"), "\n").as("clean_text"),
        size(col("__k")).cast(LongType).as("n_lines_kept"),
        (length(array_join(col("__k"), "\n")) -
          length(regexp_replace(array_join(col("__k"), "\n"), "[.!?]", "")))
          .cast(LongType).as("n_sentences"),
        (col("__t").contains("{") || col("__t").contains("}")).as("has_brace"),
        lower(col("__t")).contains("lorem ipsum").as("has_lorem"))
      .withColumn("keep",
        col("n_sentences") >= minSentences && !col("has_brace") && !col("has_lorem"))
  }

  // ----------------------------------------------------- text normalization

  /** Canonical text normalization for dedup preprocessing — the step every
    * exact/shingle dedup should run first, or byte-different renderings of
    * the same text (decomposed accents, CRLF, stray controls, tab runs)
    * defeat hash equality:
    *
    *  1. Unicode NFC (canonical composition — é == e + U+0301), the
    *     native [[graft.functions.NfcNormalize]] expression;
    *  2. line endings: CRLF / lone CR → LF;
    *  3. control characters stripped (except tab and LF, which carry
    *     structure the later steps own);
    *  4. space/tab runs → one space; spaces hugging a newline dropped;
    *  5. outer whitespace (spaces/newlines at either edge) trimmed — edge
    *     whitespace carries no structure, only byte noise.
    *
    * Deliberate contract: a newline is NOT equivalent to a space. Interior
    * newlines are paragraph structure that the paragraph-level operators
    * ([[graft.operators.Dedup.duplicateParagraphMarks]]) own; folding them
    * away here would destroy that signal. Whitespace-INSENSITIVE text
    * equivalence is the near-dup / fingerprint stage's job
    * ([[fingerprintMd5]] folds all whitespace; token streams ignore it) —
    * so `"a b"` and `"a\nb"` normalize to different strings by design and
    * are caught by near-dup, not exact dedup.
    *
    * Optionally lowercases LAST (after NFC, so case-folding sees composed
    * characters). Every step is a codegen'd expression; the DuckDB mirror
    * is `nfc_normalize` + the identical regexp chain. */
  def normalizeText(c: Column, lowercase: Boolean = false): Column = {
    val nfc  = graft.functions.TextFunctions.nfc_normalize(c)
    val nl   = regexp_replace(nfc, "\\r\\n|\\r", "\n")
    val ctl  = regexp_replace(nl, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val sp   = regexp_replace(ctl, "[ \\t]+", " ")
    val nlsp = regexp_replace(sp, " ?\\n ?", "\n")
    val tidy = regexp_replace(nlsp, "^[ \\n]+|[ \\n]+$", "")
    if (lowercase) lower(tidy) else tidy
  }

  // ----------------------------------------------------------- fingerprints

  /** Stable document fingerprint (md5 of normalized text). */
  def fingerprintMd5(c: Column): Column =
    md5(regexp_replace(lower(c), "\\s+", " "))

  /** Chained rolling hash over tokens: acc ← xxhash64(acc, token). Order-
    * sensitive, whitespace-normalizing, and overflow-free under ANSI mode
    * (a Horner fold would overflow LongType); pure codegen'd aggregate. */
  def rollingHash(c: Column): Column =
    aggregate(tokens(lower(c)), lit(0L), (acc, t) => xxhash64(acc, t))

  // ---------------------------------------------------- repetition signals

  /** Gopher-style repetition signals per document:
    *  - `top_token_frac`: occurrences of the most frequent token / all
    *    tokens (boilerplate and keyword-stuffed docs score high),
    *  - `dup_bigram_frac`: fraction of word-bigram OCCURRENCES that repeat
    *    an already-seen bigram (1 − distinct/total — near 0 for natural
    *    prose, → 1 for looped text).
    * Docs with < 2 tokens are dropped (no bigram exists — same convention
    * the brute-force SQL oracle lands on). Shapes: explode → two
    * map-side-combined groupBys; the shuffles carry (doc, token/bigram)
    * partial counts — short keys, never whole documents.
    */
  /** Zipf-surprisal quality scoring — a KenLM-style unigram LM score made
    * engine-portable by staying in exact integer arithmetic. Tokens rank
    * by corpus frequency (count desc, token asc: deterministic ties);
    * vocab = the top `vocabK`; surprisal(token) = bit length of its rank,
    * i.e. floor(log2 r) + 1, which under Zipf's law tracks the true
    * unigram -log2 p(token) to within half a bit plus a corpus-wide
    * constant that cancels when COMPARING docs (the only use of an LM
    * quality score). OOV tokens pay bitlen(vocabK) + 1 — one bit past the
    * rarest in-vocab rank. A float ln-based score would hash-differ
    * across engines (JIT log intrinsics, float-sum ordering); bit lengths
    * and one final division are bit-identical everywhere.
    *
    * Per doc: (id, n_tokens, n_oov, mean_bits). Docs with zero tokens
    * have no surprisal and drop (the [[repetitionSignals]] convention).
    *
    * Scale: token counts aggregate with map-side partial agg; top-K is a
    * distributed TakeOrdered (never a global sort); ranks come from a
    * window over the K-row vocab (bounded by the constant K, not by
    * data); the vocab broadcasts into the token stream; the per-doc
    * aggregate shuffles integers only. */
  def zipfSurprisal(df: DataFrame, textCol: String, idCol: String,
                    vocabK: Int = 4096): DataFrame = {
    require(vocabK >= 1, s"vocabK must be >= 1, got $vocabK")
    val oovBits = 64 - java.lang.Long.numberOfLeadingZeros(vocabK.toLong) + 1
    val toks = df.select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("t"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("t").asc)
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(vocabK)
      .withColumn("rank", row_number().over(byFreq)) // K rows — bounded
      .select(col("t"), length(conv(col("rank"), 10, 2)).as("bits"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("bits").isNull, 1).otherwise(0)).as("n_oov"),
        sum(coalesce(col("bits"), lit(oovBits))).as("sum_bits"))
      .select(col("id"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        col("n_oov").cast(LongType).as("n_oov"),
        (col("sum_bits").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("mean_bits"))
  }

  /** Frozen vocabulary for [[zipfScoreWithVocab]]: token → surprisal bits,
    * plus the `vocabK` it was DERIVED AT. Carrying K is load-bearing — the
    * OOV bit cost is a function of the requested K, and a corpus with
    * fewer distinct tokens than K would otherwise make the frozen-vocab
    * scorer disagree with [[zipfSurprisal]] on every OOV-bearing doc. */
  final case class ZipfVocab(bits: Map[String, Int], k: Int)

  /** The top-`vocabK` corpus vocabulary as a [[ZipfVocab]],
    * driver-collected — bounded by the CONSTANT vocabK, not by data size
    * (the same contract as [[zipfSurprisal]]'s K-row rank window; the
    * collect is DriverGuard-exempt for the same reason — at most K tiny
    * rows regardless of corpus size). Feed it to [[zipfScoreWithVocab]]
    * to score any other frame — including an unbounded stream — against
    * this frozen vocabulary. */
  def zipfVocab(df: DataFrame, textCol: String, vocabK: Int = 4096): ZipfVocab = {
    require(vocabK >= 1, s"vocabK must be >= 1, got $vocabK")
    val toks = df.select(explode(tokens(lower(col(textCol)))).as("t"))
    ZipfVocab(
      toks.groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc).limit(vocabK)
        .collect().zipWithIndex
        .map { case (r, i) => r.getString(0) -> (64 - java.lang.Long.numberOfLeadingZeros(i + 1L)) }
        .toMap,
      vocabK)
  }

  /** [[zipfSurprisal]] against a FROZEN vocabulary (from [[zipfVocab]]) —
    * stateless pure expressions (the vocab becomes a map literal read by
    * `element_at`, no UDF, no broadcast bookkeeping), so it composes into
    * Structured Streaming unchanged: the streaming twin of the batch
    * scorer, with the usual frozen-vocab trade (drift in the live token
    * distribution does not update ranks until the vocab is re-derived).
    * OOV bits derive from the vocab's REQUESTED K (not the realized map
    * size), matching the batch scorer bit-for-bit even when the deriving
    * corpus had fewer distinct tokens than K. */
  def zipfScoreWithVocab(df: DataFrame, textCol: String, idCol: String,
                         vocab: ZipfVocab): DataFrame = {
    require(vocab.bits.nonEmpty, "empty vocabulary")
    val oovBits = 64 - java.lang.Long.numberOfLeadingZeros(vocab.k.toLong) + 1
    val vmap = typedlit(vocab.bits)
    val passthrough = df.columns.filter(c => c != idCol && c != textCol).map(col)
    val staged = df.select((col(idCol).as("id") +: tokens(lower(col(textCol))).as("__t")
      +: passthrough): _*)
    staged
      .withColumn("__bits", transform(col("__t"),
        t => coalesce(element_at(vmap, t), lit(oovBits)).cast(LongType)))
      .where(size(col("__t")) > 0) // no tokens → no surprisal (batch convention)
      .select((col("id") +: size(col("__t")).cast(LongType).as("n_tokens")
        +: size(filter(col("__t"), t => element_at(vmap, t).isNull)).cast(LongType).as("n_oov")
        +: (aggregate(col("__bits"), lit(0L), (a, x) => a + x).cast(DoubleType)
            / size(col("__t")).cast(DoubleType)).as("mean_bits")
        +: passthrough): _*)
  }

  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("t"))
    val topTok = toks.groupBy("id", "t").agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg((max(col("c")).cast(DoubleType) / sum(col("c"))).as("top_token_frac"),
        sum(col("c")).as("__n"))
      .filter(col("__n") >= 2).drop("__n")
    val bigrams = Dedup.shingleRows(df, textCol, idCol, 2)
    val dupBg = bigrams.groupBy("id").agg(
      (lit(1.0) - countDistinct(col("sh")).cast(DoubleType) / count(lit(1))).as("dup_bigram_frac"))
    topTok.join(dupBg, "id").withColumnRenamed("id", idCol)
  }

  // ----------------------------------------------------------- PII scrubbing

  /** Regex PII scrub: emails, North-American phone shapes, IPv4 literals →
    * typed placeholder tokens. Patterns are RE2-compatible (no lookaround),
    * so the exact same expressions run in other engines — the DuckDB oracle
    * executes them verbatim. Pure codegen'd `regexp_replace` chain in the
    * scan. */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiPhoneRe = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"
  val piiIpv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def piiScrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, piiEmailRe, "<EMAIL>"),
        piiIpv4Re, "<IP>"),
      piiPhoneRe, "<PHONE>")

  /** PII scrub (r14): redact emails / IPv4s / NANP phones to the typed
    * `|||…|||` placeholders and count each class — one scan-stage
    * codegen'd kernel per row, zero shuffle ([[graft.functions.PiiScan]]
    * holds the pattern contract and the cross-engine parity rules; the
    * older [[piiScrub]] column above is the light in-pipeline variant —
    * different placeholders, no counts). Output: (id, text_redacted,
    * n_email, n_ip, n_phone, pii_total). */
  def piiScan(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ex = graft.functions.TextFunctions.pii_scan(col(textCol))
    df.select(col(idCol), ex.as("__p"))
      .select(col(idCol),
        col("__p").getField("text").as("text_redacted"),
        col("__p").getField("n_email").as("n_email"),
        col("__p").getField("n_ip").as("n_ip"),
        col("__p").getField("n_phone").as("n_phone"),
        (col("__p").getField("n_email") + col("__p").getField("n_ip") +
          col("__p").getField("n_phone")).as("pii_total"))
  }

  /** Compression-ratio quality signals — the classic "gzip filter" of
    * corpus curation: per document, the UTF-8 byte count, its
    * zlib-DEFLATE compressed size at a fixed level, and their ratio.
    * Repetitive boilerplate collapses (low ratio) while minified junk,
    * base64 blobs, and binary-ish noise stay near (or, on short inputs,
    * above) 1.0 — both tails cut away from prose with one scan-stage
    * kernel ([[graft.functions.DeflateSize]]), zero shuffle, streaming-
    * safe. `raw_bytes` is exactly SQL `octet_length`; the compressed size
    * is runtime-deterministic but not a cross-engine contract, so gates
    * pin properties of the ratio, never golden sizes. Empty/null text →
    * null ratio (no bytes, no signal). */
  def compressionSignals(df: DataFrame, textCol: String, idCol: String,
                         level: Int = 6): DataFrame =
    df.select(col(idCol),
        octet_length(col(textCol)).as("raw_bytes"),
        graft.functions.TextFunctions.deflate_size(col(textCol), level)
          .as("deflate_bytes"))
      .withColumn("compression_ratio",
        when(col("raw_bytes") > 0,
          col("deflate_bytes").cast(DoubleType) / col("raw_bytes").cast(DoubleType)))

  /** HTML → text + link-density quality signals, one codegen'd scan (the
    * [[graft.functions.HtmlExtract]] kernel — see its scaladoc for the
    * exact declared subset): (id, text, text_chars, link_chars, n_links,
    * link_density). `link_density` (anchor-text share of raw content) is
    * the jusText/boilerplate cut; both counts are codepoint-exact
    * integers and the density one IEEE division, so a SQL oracle
    * reproduces every column. */
  def htmlExtract(df: DataFrame, htmlCol: String, idCol: String): DataFrame = {
    val ex = graft.functions.TextFunctions.html_extract(col(htmlCol))
    df.select(col(idCol), ex.as("__e"))
      .select(col(idCol),
        col("__e").getField("text").as("text"),
        col("__e").getField("text_chars").as("text_chars"),
        col("__e").getField("link_chars").as("link_chars"),
        col("__e").getField("n_links").as("n_links"),
        when(col("__e").getField("text_chars") > 0,
          col("__e").getField("link_chars").cast(DoubleType) /
            col("__e").getField("text_chars").cast(DoubleType))
          .otherwise(lit(0.0)).as("link_density"))
  }
}
