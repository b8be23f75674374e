package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Byte-pair-encoding tokenizer TRAINING + ENCODING for the training-data
  * pipeline (Sennrich et al. 2016, arXiv:1508.07909 — character-level BPE
  * with the `</w>` end-of-word symbol). The pack/mixture/curriculum
  * operators budget in tokens; a real learned subword tokenizer replaces
  * their whitespace approximation with the unit an actual LLM trains on.
  *
  * Scale shape (the SentencePiece-on-cluster split):
  *  - the DISTRIBUTED part is the word-frequency aggregation — one corpus
  *    scan + one map-side-combined `groupBy(word)` shuffle, the only part
  *    that touches corpus bytes and the only part that grows with corpus
  *    size;
  *  - merge learning runs on the collected (word, freq) DICTIONARY — at
  *    most `maxDictWords` rows by contract (frequency-capped: the dropped
  *    tail is the low-mass tail whose pair counts cannot win a merge
  *    argmax anyway). The loop is O(merges · dict); a dict is MBs where a
  *    corpus is TBs, which is why every production BPE trainer makes the
  *    same cut;
  *  - encoding is a pure scan expression ([[graft.functions.BpeEncode]]):
  *    the trained model rides the plan as reference objects, documents
  *    tokenize row-locally with zero shuffle.
  *
  * Determinism: merge ties break on the lexicographically smallest pair
  * (count desc, pair asc), vocab ids assign by sorted symbol — the same
  * corpus always yields the same model, so re-evaluation under plan
  * recompute can never flip a token id.
  */
object BpeTokenizer {

  /** Trained model: ordered merges (rank = position) + symbol → id vocab.
    * Id 0 is reserved for UNK (a character unseen at training time). */
  final case class BpeModel(merges: Seq[(String, String)], vocab: Map[String, Int]) {
    def inverse: Map[Int, String] = vocab.map(_.swap)
  }

  /** Learn `nMerges` BPE merges from the corpus' word-frequency dictionary
    * (lowercased whitespace words — [[Dedup.tokens]]' normalization).
    * Stops early when no pair occurs twice.
    *
    * The vocab's base-character set closes over the FULL word set BEFORE
    * the frequency cap: the cap may drop a tail word carrying the only
    * occurrence of a character, and a missing base symbol is the one thing
    * that makes UNK reachable when encoding the training corpus. Both
    * pulls (capped dict + distinct characters) read one persisted
    * word-frequency aggregation — the corpus is scanned once. */
  def learnVocab(df: DataFrame, textCol: String, nMerges: Int,
                 maxDictWords: Int = 1000000): BpeModel = {
    require(nMerges >= 0, s"learnVocab: nMerges must be >= 0, got $nMerges")
    val wordFreq = df
      .select(explode(Dedup.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dict = wordFreq
        // frequency-capped dict: deterministic order (freq desc, word asc)
        .orderBy(col("f").desc, col("w").asc)
        .limit(maxDictWords)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // Java regex's zero-width split is code-point aware, so split(w, '')
      // yields code-point characters — the same alphabet codePointSymbols
      // produces; the distinct set is Unicode-bounded, a metadata pull.
      // r18: the pull runs ONLY when the frequency cap actually dropped
      // words — an uncapped dict IS the full word set, and learnFromDict
      // already closes the base alphabet over every dict word's
      // characters, so extraBaseChars would add nothing (vocab
      // bit-identical, one distributed job saved per training).
      val baseChars: Iterable[String] =
        if (dict.length < maxDictWords) Nil
        else wordFreq
          .select(explode(split(col("w"), "")).as("c"))
          .filter(length(col("c")) > 0)
          .distinct().collect().map(_.getString(0)).toSeq
      learnFromDict(dict, nMerges, baseChars)
    } finally wordFreq.unpersist(false)
  }

  /** The driver-side merge loop over an explicit (word, freq) dictionary —
    * exposed so tests (and a caller with a precomputed dict) can train
    * without a Spark job. `extraBaseChars` widens the vocab's base
    * alphabet beyond the dict's own characters (see [[learnVocab]]'s
    * full-word-set closure). */
  def learnFromDict(dict: Array[(String, Long)], nMerges: Int,
                    extraBaseChars: Iterable[String] = Nil): BpeModel = {
    // each word as its working symbol sequence (code-point symbols — the
    // encoder's alphabet, graft.functions.BpeEncode.codePointSymbols)
    val words = dict.map { case (w, f) =>
      (scala.collection.mutable.ArrayBuffer.from(
        graft.functions.BpeEncode.codePointSymbols(w)
          :+ graft.functions.BpeEncode.EndOfWord), f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      // argmax by (count desc, pair asc) — fully deterministic.
      //
      // Marker-integrity guard: decode detects word boundaries by
      // `endsWith(EndOfWord)`, which is sound only under the invariant
      // "a symbol ends with the marker chars iff it IS word-final". Base
      // symbols are single code points (can't end with the 4-char
      // marker) and the marker itself is final, so the invariant breaks
      // only through a merge whose product SPELLS the marker suffix out
      // of literal corpus text — e.g. text containing '</w>' training
      // "a</w" + ">" → "a</w>", which decode would strip mid-word
      // (silently lossy). Skip exactly those: product ends with the
      // marker while the right-hand symbol is not itself final (a final
      // right side — e.g. "e" + "</w>" — is the legitimate case and
      // stays mergeable). This subsumes product == EndOfWord. Mid-string
      // literal '</w>' (e.g. a product "a</w>b") is harmless: decode
      // only strips suffixes.
      var best: (String, String) = null
      var bestCount = 1L // a merge must fire at least twice
      counts.foreach { case (p, c) =>
        // count test FIRST: the spoof guard concatenates strings, so it
        // runs only for would-be argmax pairs (a handful per round), not
        // every candidate pair. Selection is identical either way: the
        // argmax ranges over non-spoofing pairs.
        val better = c > bestCount ||
          (c == bestCount && best != null &&
            (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))
        if (better &&
            !((p._1 + p._2).endsWith(graft.functions.BpeEncode.EndOfWord) &&
              !p._2.endsWith(graft.functions.BpeEncode.EndOfWord))) {
          best = p; bestCount = c
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        val joined = best._1 + best._2
        words.foreach { case (syms, _) =>
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == best._1 && syms(i + 1) == best._2) {
              syms(i) = joined
              syms.remove(i + 1)
            } else i += 1
          }
        }
        round += 1
      }
    }
    // vocab: every base character seen + </w> + every merge product,
    // ids 1.. by sorted symbol (0 reserved for UNK)
    val symbols = scala.collection.mutable.SortedSet.empty[String]
    dict.foreach { case (w, _) =>
      symbols ++= graft.functions.BpeEncode.codePointSymbols(w) }
    symbols ++= extraBaseChars
    symbols += graft.functions.BpeEncode.EndOfWord
    merges.foreach { case (a, b) => symbols += (a + b) }
    BpeModel(merges.toSeq, symbols.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap)
  }

  /** Tokenize every document with a trained model — one scan, zero
    * shuffle. Output: (id, token_ids array&lt;int&gt;, n_tokens). Null
    * text → empty ids (0 tokens), mirroring the token-count family. */
  def encode(df: DataFrame, textCol: String, idCol: String, model: BpeModel): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val ranks = model.merges.zipWithIndex.toMap
    val ids = GraftColumnBridge.column(graft.functions.BpeEncode(
      GraftColumnBridge.expression(
        coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))),
      ranks, model.vocab))
    df.select(col(idCol).as("id"), ids.as("token_ids"))
      .withColumn("n_tokens", size(col("token_ids")).cast(LongType))
  }

  /** Reconstruct the normalized text from a token-id COLUMN (the
    * round-trip verifier): `</w>` is the word boundary, unknown ids render
    * as the replacement char so lossy output can never look lossless. */
  def decode(ids: org.apache.spark.sql.Column, model: BpeModel): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.BpeDecode(
      org.apache.spark.sql.GraftColumnBridge.expression(ids), model.inverse))
}
