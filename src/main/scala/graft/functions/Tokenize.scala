package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokens of a string: the pieces between runs of Java regex
  * `\s` (`[ \t\n\x0B\f\r]`), empties removed — one byte scan, no regex.
  * Exactly the values of the regex form it replaced,
  * `split(regexp_replace(s, "^\\s+|\\s+$", ""), "\\s+")` with an empty
  * array for an all-whitespace string, including its two irregular cases
  * (see [[Tokenize]]). Null in, null out; an empty or all-whitespace string
  * gives an empty array. */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  // the regex form's type: CASE WHEN over `array()` cast to array<string>
  // (containsNull) and `split` (no nulls) widens to containsNull = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def prettyName: String = "whitespace_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"whitespace_tokens expects a string, got $other")
  }

  override def nullSafeEval(v: Any): Any = Tokenize.tokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.Tokenize.tokens($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The integer counts of `TextAnalysis.qualityFeatures` in one byte scan:
  * `n_tokens` (the size of [[WhitespaceTokens]]), `n_alpha` (`[A-Za-z]`),
  * `n_digit` (`[0-9]`), `n_punct` (`[.,;:!?]`) and `n_space` (`' '`), each
  * equal to the regex-replace count it replaced. Null in, null out. */
case class QualityCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = QualityCounts.schema

  override def prettyName: String = "quality_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"quality_counts expects a string, got $other")
  }

  override def nullSafeEval(v: Any): Any = Tokenize.qualityCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.Tokenize.qualityCounts($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QualityCounts {
  val fields: Seq[String] = Seq("n_tokens", "n_alpha", "n_digit", "n_punct", "n_space")
  val schema: StructType = StructType(fields.map(StructField(_, IntegerType, nullable = false)))
}

/** Static kernels shared by interpreted and generated code, and by
  * driver-side callers that must tokenize exactly as the corpus does.
  *
  * All six whitespace characters are ASCII, and in well-formed UTF-8 an
  * ASCII byte is always a whole character, so the scan runs over bytes.
  * Two inputs leave that fast path:
  *  - Java's `$` also matches before a final U+0085, U+2028 or U+2029, so
  *    the regex trim `\s+$` removed the whitespace before such a final
  *    character and the character joined the previous token;
  *  - malformed UTF-8 went through a `String` round trip in the regex
  *    form, which decodes each bad sequence to U+FFFD. Such input is
  *    re-encoded the same way and scanned again; `n_space` keeps the old
  *    `numChars(raw) - numChars(re-encoded without spaces)`.
  */
object Tokenize {

  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  @inline private def isCont(b: Byte): Boolean = (b & 0xC0) == 0x80

  /** Bytes `[from, until)` decode through Java's UTF-8 decoder unchanged
    * (the well-formed sequences of Unicode Table 3-7). */
  private def wellFormed(b: Array[Byte], from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c < 0xC2 || c > 0xF4) return false
      else if (c < 0xE0) {
        if (i + 1 >= until || !isCont(b(i + 1))) return false
        i += 2
      } else {
        val need = if (c < 0xF0) 2 else 3
        if (i + need >= until) return false
        // the second byte's range excludes overlongs, surrogates and
        // code points past U+10FFFF
        val c1 = b(i + 1) & 0xFF
        val lo = if (c == 0xE0) 0xA0 else if (c == 0xF0) 0x90 else 0x80
        val hi = if (c == 0xED) 0x9F else if (c == 0xF4) 0x8F else 0xBF
        if (c1 < lo || c1 > hi || !isCont(b(i + 2))) return false
        if (need == 3 && !isCont(b(i + 3))) return false
        i += need + 1
      }
    }
    true
  }

  /** The bytes end with whitespace then U+0085, U+2028 or U+2029. */
  private def gluedTail(b: Array[Byte], from: Int, until: Int): Boolean = {
    val n = until - from
    (n >= 3 && b(until - 2) == 0xC2.toByte && b(until - 1) == 0x85.toByte &&
      isSpace(b(until - 3))) ||
    (n >= 4 && b(until - 3) == 0xE2.toByte && b(until - 2) == 0x80.toByte &&
      (b(until - 1) == 0xA8.toByte || b(until - 1) == 0xA9.toByte) && isSpace(b(until - 4)))
  }

  /** Whitespace tokens of `s` (see [[WhitespaceTokens]]). */
  def tokens(s: UTF8String): ArrayData = {
    val (b, from, until) = bytesOf(s)
    var bounds = new Array[Int](16) // start, end pairs
    var n = 0
    var ascii = true
    var i = from
    while (i < until) {
      while (i < until && isSpace(b(i))) i += 1
      if (i < until) {
        val start = i
        while (i < until && !isSpace(b(i))) { if (b(i) < 0) ascii = false; i += 1 }
        if (2 * n + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
        bounds(2 * n) = start
        bounds(2 * n + 1) = i
        n += 1
      }
    }
    if (!ascii && !wellFormed(b, from, until)) return tokens(UTF8String.fromString(s.toString))
    val out = new Array[Any](if (n >= 2 && gluedTail(b, from, until)) n - 1 else n)
    var t = 0
    while (t < out.length) {
      out(t) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, bounds(2 * t), bounds(2 * t + 1)))
      t += 1
    }
    if (out.length < n) { // the final character joins the token before it
      val head = bounds(2 * n - 4)
      val tail = bounds(2 * n - 2)
      val headLen = bounds(2 * n - 3) - head
      val joined = new Array[Byte](headLen + until - tail)
      System.arraycopy(b, head, joined, 0, headLen)
      System.arraycopy(b, tail, joined, headLen, until - tail)
      out(n - 2) = UTF8String.fromBytes(joined)
    }
    new GenericArrayData(out)
  }

  /** Driver-side tokens of a string, by the same kernel as the corpus. */
  def stringTokens(s: String): Array[String] = {
    val arr = tokens(UTF8String.fromString(s))
    Array.tabulate(arr.numElements())(arr.getUTF8String(_).toString)
  }

  /** (n_tokens, n_alpha, n_digit, n_punct, n_space) of `s` (see
    * [[QualityCounts]]). */
  def qualityCounts(s: UTF8String): InternalRow = {
    val (b, from, until) = bytesOf(s)
    var tokens = 0
    var alpha, digit, punct, space = 0
    var ascii = true
    var prevSpace = true
    var i = from
    while (i < until) {
      val c = b(i)
      if (isSpace(c)) {
        if (c == ' ') space += 1
        prevSpace = true
      } else {
        if (prevSpace) tokens += 1
        prevSpace = false
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha += 1
        else if (c >= '0' && c <= '9') digit += 1
        else if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?') punct += 1
        else if (c < 0) ascii = false
      }
      i += 1
    }
    if (!ascii && !wellFormed(b, from, until)) {
      val fixed = UTF8String.fromString(s.toString)
      val row = qualityCounts(fixed)
      row.setInt(4, s.numChars() - fixed.numChars() + row.getInt(4))
      return row
    }
    if (tokens >= 2 && gluedTail(b, from, until)) tokens -= 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](tokens, alpha, digit, punct, space))
  }

  /** A byte array holding `s` at `[from, until)` — the row's own buffer
    * when `s` lives on heap, else a copy. */
  private def bytesOf(s: UTF8String): (Array[Byte], Int, Int) = s.getBaseObject match {
    case a: Array[Byte] =>
      val from = (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      (a, from, from + s.numBytes())
    case _ => (s.getBytes, 0, s.numBytes())
  }
}
