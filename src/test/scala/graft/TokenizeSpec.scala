package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize
import graft.operators.{Dedup, TextAnalysis}

/** The byte-scan tokenizer kernels (`graft.functions.Tokenize`) against the
  * regex expressions they replaced, which live on here as the oracle:
  * same values and same `dataType` for `TextAnalysis.tokens`,
  * `Dedup.tokens`, `TextAnalysis.tokenCount` and
  * `TextAnalysis.qualityFeatures`, interpreted and code-generated. */
class TokenizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ----------------------------------------------------------- the oracle

  private def regexTokens(c: Column): Column = {
    val t = regexp_replace(c, "^\\s+|\\s+$", "")
    when(length(t) === 0, array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  private def regexQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    df.withColumn("n_chars_m", length(c))
      .withColumn("n_tokens", size(regexTokens(c)))
      .withColumn("n_alpha", length(regexp_replace(c, "[^A-Za-z]", "")))
      .withColumn("n_digit", length(regexp_replace(c, "[^0-9]", "")))
      .withColumn("n_punct", length(regexp_replace(c, "[^.,;:!?]", "")))
      .withColumn("n_space", length(c) - length(regexp_replace(c, " ", "")))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0,
          (length(c) - col("n_space")).cast(DoubleType) / col("n_tokens").cast(DoubleType)))
      .withColumn("alpha_ratio",
        when(length(c) > 0, col("n_alpha").cast(DoubleType) / length(c).cast(DoubleType)))
      .withColumn("punct_ratio",
        when(length(c) > 0, col("n_punct").cast(DoubleType) / length(c).cast(DoubleType)))
  }

  private def regexDriverTokens(s: String): Seq[String] =
    s.replaceAll("^\\s+|\\s+$", "").split("\\s+").filter(_.nonEmpty).toSeq

  // ----------------------------------------------------------- the inputs

  /** Every regex-relevant class: letters of both cases, punctuation, a
    * digit, 2- and 4-byte UTF-8, all six `\s` characters, a control
    * character that is not `\s`, the three characters Java's `$` treats
    * as a final line terminator, and a non-breaking space. */
  private val alphabet: IndexedSeq[String] = IndexedSeq("a", "B", ".", "1", "é", "😀",
    "?", " ", "\t", "\n", "\r", "\u000B", "\f", "\u001F", "\u0085", "\u2028", "\u2029", "\u00A0")

  private lazy val adversarial: Seq[String] = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(20000)(Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString)
  }

  /** A final U+0085, U+2028 or U+2029 after whitespace, with and without
    * a token before it, and the near misses around that case. */
  private val finalTerminators: Seq[String] = for {
    term <- Seq("\u0085", "\u2028", "\u2029")
    shape <- Seq("a %s", "a \t%s", "ab\n %s", " %s", "%s", "  a b  %s", "a %s ", "a b%s",
      "a %s%s", "a\r\n%s", "%s a %s")
  } yield shape.replace("%s", term)

  /** Byte strings with malformed UTF-8 (stray continuation bytes, overlong
    * and surrogate encodings, truncated sequences, bytes past U+10FFFF)
    * mixed with whitespace, ASCII and well-formed sequences. */
  private lazy val malformed: Seq[Array[Byte]] = {
    val pieces: IndexedSeq[Array[Byte]] = (Seq(0x20, 0x09, 0x0A, 0x0D, 0x0B, 0x0C, 0x41, 0x61,
      0x2E, 0x31, 0x80, 0xBF, 0xC0, 0xC1, 0xC2, 0x85, 0xE2, 0xA8, 0xA9, 0xE0, 0xED, 0xA0, 0xF0,
      0x90, 0xF4, 0x8F, 0xF5, 0xFF).map(b => Array(b.toByte)) ++
      Seq("é", "😀", "\u2028", "\u0085", "\u2029", "\u00A0").map(_.getBytes(UTF_8))).toIndexedSeq
    val rnd = new scala.util.Random(85L)
    Seq.fill(20000)(Seq.fill(rnd.nextInt(10))(pieces(rnd.nextInt(pieces.size))).flatten.toArray)
  }

  /** RDD-backed, so projections run in tasks: over a local relation the
    * optimizer would fold them on the driver, interpreted. */
  private def distributed(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  private def frame(texts: Seq[String]): DataFrame = distributed(
    (texts.map(Option(_)) ++ Seq(None, Some(""))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text"))

  private def binaryFrame(bytes: Seq[Array[Byte]]): DataFrame = distributed(
    (bytes.map(Option(_)) ++ Seq(None, Some(Array.emptyByteArray))).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("id", "raw"))
    .select(col("id"), col("raw").cast(StringType).as("text"))

  // ------------------------------------------------------- the comparison

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"))

  private def inMode[T](conf: Map[String, String])(body: => T): T = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `kernel` and `oracle` agree on every row of `df` and have one type. */
  private def assertSame(df: DataFrame, kernel: Column, oracle: Column): Unit = {
    val both = df.select(col("id"), col("text"), kernel.as("k"), oracle.as("o"))
    assert(both.schema("k") == both.schema("o").copy(name = "k"),
      s"${both.schema("k")} vs ${both.schema("o")}")
    val bad = both.filter(not(col("k") <=> col("o"))).limit(5).collect()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private def inputs: Seq[(String, DataFrame)] = Seq(
    "adversarial alphabet" -> frame(adversarial),
    "final line terminators" -> frame(finalTerminators),
    "malformed UTF-8" -> binaryFrame(malformed))

  for ((mode, conf) <- modes) {
    test(s"tokens, Dedup.tokens and tokenCount equal the regex forms ($mode)") {
      inMode(conf) {
        for ((_, df) <- inputs) {
          assertSame(df, TextAnalysis.tokens(col("text")), regexTokens(col("text")))
          assertSame(df, Dedup.tokens(col("text")), regexTokens(lower(col("text"))))
          assertSame(df, TextAnalysis.tokenCount(col("text")), size(regexTokens(col("text"))))
        }
      }
    }

    test(s"qualityFeatures equals the regex form: rows and schema ($mode)") {
      inMode(conf) {
        for ((_, df) <- inputs) {
          val got = TextAnalysis.qualityFeatures(df, "text")
          val want = regexQualityFeatures(df, "text")
          assert(got.schema == want.schema, s"${got.schema.treeString}\n${want.schema.treeString}")
          val diff = got.exceptAll(want).union(want.exceptAll(got)).limit(5).collect()
          assert(diff.isEmpty, diff.mkString("\n"))
          assert(got.count() == want.count())
        }
      }
    }
  }

  test("the inputs reach both irregular cases") {
    // the final-terminator rule changes some regex outputs from a plain
    // whitespace split, and Spark's binary → string cast keeps bad bytes
    assert(finalTerminators.exists(s =>
      regexDriverTokens(s) != s.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty).toSeq))
    val raw = binaryFrame(malformed).select(col("text").cast(BinaryType)).as[Array[Byte]]
      .collect().filter(_ != null)
    assert(raw.exists(b => !java.util.Arrays.equals(new String(b, UTF_8).getBytes(UTF_8), b)))
  }

  test("the driver-side tokenizer equals the regex form on java strings") {
    for (s <- adversarial ++ finalTerminators :+ "")
      assert(Tokenize.stringTokens(s).toSeq == regexDriverTokens(s), s.map(_.toInt))
  }
}
