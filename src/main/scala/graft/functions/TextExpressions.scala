package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-document n-gram repetition statistics in ONE per-row pass — the
  * Gopher repetition filters' raw counts (Rae et al. 2021, arXiv:2112.11446
  * A1: "fraction of characters in the most common n-gram" and "fraction of
  * characters inside duplicate n-grams"), computed with ZERO shuffle: a
  * document's repetition profile depends only on its own tokens, so the
  * natural 100 TB shape is a scan-stage expression, not an
  * explode + groupBy whose exchange would carry every n-gram of the corpus.
  *
  * Characters count over the whitespace-NORMALIZED text (tokens joined by
  * single spaces), making every output an exact integer a SQL oracle
  * reproduces bit-for-bit. Output struct:
  *  - `total_chars`: Σ token length + (count − 1) separators;
  *  - `top_count`: occurrences of the most frequent n-gram (ties broken
  *    by lexicographically smallest gram — deterministic and
  *    SQL-reproducible); 0 when the doc has no n-gram;
  *  - `top_chars`: top_count × the top gram's char length (overlapping
  *    occurrences counted in full, matching the public implementations of
  *    the top-n-gram filter);
  *  - `dup_chars`: characters covered by ANY occurrence of any n-gram
  *    appearing ≥ 2 times in the doc, overlaps MERGED (island union —
  *    each covered token counted once, plus the separator between two
  *    adjacently-covered tokens).
  */
case class RepetitionStats(child: Expression, n: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("total_chars", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"repetition_stats expects array<string> (tokens), got $other")
    }

  override def nullSafeEval(v: Any): Any =
    RepetitionStats.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.RepetitionStats.compute($arr, $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStats {
  /** Static kernel, shared by interpreted and generated code. */
  def compute(arr: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val cnt = arr.numElements()
    val toks = new Array[String](cnt)
    val lens = new Array[Int](cnt)
    var totalChars = 0L
    var i = 0
    while (i < cnt) {
      toks(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      lens(i) = toks(i).codePointCount(0, toks(i).length)
      totalChars += lens(i)
      i += 1
    }
    if (cnt > 1) totalChars += cnt - 1
    val m = cnt - n + 1 // number of n-gram windows
    var topCount = 0L
    var topChars = 0L
    var dupChars = 0L
    if (m > 0) {
      val counts = new java.util.HashMap[String, Int]()
      val grams = new Array[String](m)
      var w = 0
      while (w < m) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(w + j))
          j += 1
        }
        grams(w) = sb.toString
        counts.merge(grams(w), 1, Integer.sum)
        w += 1
      }
      var topGram: String = null
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > topCount ||
            (e.getValue == topCount && (topGram == null || e.getKey.compareTo(topGram) < 0))) {
          topCount = e.getValue
          topGram = e.getKey
        }
      }
      if (topGram != null)
        topChars = topCount * topGram.codePointCount(0, topGram.length).toLong
      // island-merged coverage of duplicated windows
      val covered = new Array[Boolean](cnt)
      w = 0
      while (w < m) {
        if (counts.get(grams(w)) >= 2) {
          var j = 0
          while (j < n) { covered(w + j) = true; j += 1 }
        }
        w += 1
      }
      i = 0
      while (i < cnt) {
        if (covered(i)) {
          dupChars += lens(i)
          if (i + 1 < cnt && covered(i + 1)) dupChars += 1 // shared separator
        }
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(totalChars, topCount, topChars, dupChars)
  }
}

/** Duplicate-fragment statistics over an array of text fragments (lines
  * or paragraphs) — the other half of the Gopher repetition filters
  * (Rae et al. 2021 A1: "fraction of lines/paragraphs that are
  * duplicates" and "fraction of characters in duplicated
  * lines/paragraphs"). One per-row pass, zero shuffle. Fragments compare
  * EXACTLY (after the caller's own normalization); every occurrence of a
  * fragment appearing ≥ 2 times counts as duplicated (including the
  * first — Gopher's definition). Output struct: (n_frags, total_chars,
  * dup_frags, dup_chars) where chars sum the fragments' own lengths
  * (separators are not part of any fragment). */
case class FragmentDupStats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_frags", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("dup_frags", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"fragment_dup_stats expects array<string> (lines/paragraphs), got $other")
    }

  override def nullSafeEval(v: Any): Any =
    FragmentDupStats.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = graft.functions.FragmentDupStats.compute($arr);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FragmentDupStats {
  /** Static kernel, shared by interpreted and generated code. */
  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val cnt = arr.numElements()
    val frags = new Array[String](cnt)
    val counts = new java.util.HashMap[String, Int]()
    var totalChars = 0L
    var i = 0
    while (i < cnt) {
      frags(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      totalChars += frags(i).codePointCount(0, frags(i).length)
      counts.merge(frags(i), 1, Integer.sum)
      i += 1
    }
    var dupFrags = 0L
    var dupChars = 0L
    i = 0
    while (i < cnt) {
      if (counts.get(frags(i)) >= 2) {
        dupFrags += 1
        dupChars += frags(i).codePointCount(0, frags(i).length)
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(cnt.toLong, totalChars, dupFrags, dupChars)
  }
}

/** Unicode NFC normalization (canonical composition) as a native
  * codegen'd expression — Spark ships no normalizer function, and the
  * text-dedup preprocessing chain needs one (a composed é and its
  * decomposed e + U+0301 twin must hash identically). Backed by
  * `java.text.Normalizer`; DuckDB's `nfc_normalize` implements the same
  * stable Unicode algorithm, so oracle parity holds. */
case class NfcNormalize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nfc_normalize expects string, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(NfcNormalize.compute(v.toString))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.NfcNormalize.compute($s.toString()));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static kernel, shared by interpreted and generated code. Skips the
    * normalizer entirely for already-normalized text (the common case —
    * isNormalized is a cheap quick-check scan). */
  def compute(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
}

/** HTML → text extraction in ONE per-row pass (r13) — step 0 of a
  * web-corpus pipeline (the CCNet/RefinedWeb shape): strip markup, keep
  * text, and surface the link-density quality signals boilerplate
  * filters (jusText-style) cut on. ZERO shuffle: a document's extraction
  * depends only on its own bytes, so the 100 TB shape is a scan-stage
  * codegen'd expression.
  *
  * The declared subset (a deliberately small, exactly-specified state
  * machine — NOT a browser parser):
  *  - tags are `<name …>` / `</name …>`; attribute values may be single-
  *    or double-quoted and may contain `>`;
  *  - `<script>`/`<style>` content is skipped to the matching close tag
  *    (case-insensitive), so embedded `<`, `>` and quotes never confuse
  *    the walk; `<!-- … -->` comments and `<!…>`/`<?…>` declarations skip;
  *  - BLOCK tags (p div br hr li ul ol table tr td th h1–h6 blockquote
  *    pre title section article header footer form) break segments; all
  *    other tags are inline;
  *  - entities decode: the five XML names + nbsp (to a plain space),
  *    `&#NN;` and `&#xHH;`; an unknown or unterminated `&…` stays
  *    literal text;
  *  - output text = per-segment whitespace collapse (runs of
  *    `[\t\n\f\r ]` — exactly RE2's `\s`, so a SQL oracle reproduces the
  *    collapse — become one space, trimmed), empty segments dropped,
  *    segments joined by `\n`.
  *
  * Output struct: `text` plus the raw-content counts the quality plane
  * needs, all CODEPOINT-exact (a SQL `length()` reproduces them):
  * `text_chars` (decoded text content incl. its whitespace),
  * `link_chars` (the subset inside `<a>…</a>`), `n_links` (opening
  * `<a>` tags). */
case class HtmlExtract(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("text_chars", IntegerType, nullable = false),
    StructField("link_chars", IntegerType, nullable = false),
    StructField("n_links", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"html_extract expects string, got $other")
    }

  override def nullSafeEval(v: Any): Any = HtmlExtract.extract(v.toString)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.HtmlExtract.extract($s.toString());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HtmlExtract {
  private val blockTags = Set(
    "p", "div", "br", "hr", "li", "ul", "ol", "table", "tr", "td", "th",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "title",
    "section", "article", "header", "footer", "form")

  private val named = Map("amp" -> '&', "lt" -> '<', "gt" -> '>',
    "quot" -> '"', "apos" -> '\'', "nbsp" -> ' ')

  private def isWs(c: Char): Boolean = // exactly RE2's \s
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  private def collapse(seg: String): String = {
    val sb = new java.lang.StringBuilder(seg.length)
    var pendingWs = false
    var i = 0
    while (i < seg.length) {
      val c = seg.charAt(i)
      if (isWs(c)) pendingWs = true
      else {
        if (pendingWs && sb.length > 0) sb.append(' ')
        pendingWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def extract(html: String): org.apache.spark.sql.catalyst.InternalRow = {
    val n = html.length
    val segments = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var textChars = 0
    var linkChars = 0
    var nLinks = 0
    var linkDepth = 0

    def emit(cp: Int): Unit = {
      cur.appendCodePoint(cp)
      textChars += 1
      if (linkDepth > 0) linkChars += 1
    }
    def endSegment(): Unit = { segments += cur.toString; cur.setLength(0) }
    // index just past the tag's closing '>' (quote-aware); n if unterminated
    def tagEnd(from: Int): Int = {
      var i = from
      while (i < n) {
        html.charAt(i) match {
          case '>' => return i + 1
          case q @ ('"' | '\'') =>
            i += 1
            while (i < n && html.charAt(i) != q) i += 1
            if (i < n) i += 1
          case _ => i += 1
        }
      }
      n
    }

    // quote-aware scan to the tag's '>' that also decides whether a '/'
    // right before the '>' is a self-closing MARKER or the tail of an
    // unquoted attribute value: <a href=http://x.com/> is an OPEN anchor —
    // its '/' belongs to the value, and calling it self-closing would both
    // drop the anchor's text from link_chars and swallow the real </a>,
    // skewing the link-density signal this operator exists to produce.
    // Returns (index just past '>', marker); (n, false) if unterminated.
    def scanTag(from: Int): (Int, Boolean) = {
      var i = from
      var bare = false   // inside an unquoted attribute value
      var eq = false     // saw '=', awaiting the value
      var marker = false // last char was a '/' eligible as the marker
      while (i < n) {
        val c = html.charAt(i)
        if (c == '>') return (i + 1, marker)
        else if (bare) { if (isWs(c)) bare = false; marker = false; i += 1 }
        else if (c == '"' || c == '\'') {
          i += 1
          while (i < n && html.charAt(i) != c) i += 1
          if (i < n) i += 1
          eq = false; marker = false
        }
        else if (isWs(c)) { marker = false; i += 1 } // '=' keeps awaiting
        else if (eq) { bare = true; eq = false; marker = false; i += 1 }
        else if (c == '=') { eq = true; marker = false; i += 1 }
        else if (c == '/') { marker = true; i += 1 }
        else { marker = false; i += 1 }
      }
      (n, false)
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (c1 == '!' || c1 == '?') {
          i = tagEnd(i + 1) // <!DOCTYPE …>, <?xml …>
        } else if (c1.isLetter || (c1 == '/' && i + 2 < n && html.charAt(i + 2).isLetter)) {
          val closing = c1 == '/'
          var j = if (closing) i + 2 else i + 1
          val nameStart = j
          // '-' is a name character: a custom element <a-entity> must NOT
          // truncate to 'a' and masquerade as an anchor (it would poison
          // the link-density signal this operator exists to produce)
          while (j < n && (html.charAt(j).isLetterOrDigit || html.charAt(j) == '-')) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          val (end, marker) = scanTag(j)
          // an unterminated tag at EOF is dropped junk: no link counting,
          // no raw-content skip (there is nothing after it anyway)
          val terminated = end > i && end <= n && html.charAt(end - 1) == '>'
          val selfClosing = terminated && marker
          if (terminated && !closing && (name == "script" || name == "style")) {
            // raw-content element: skip to the matching close tag — the
            // NAME must end there (</scriptx> does not close <script>)
            val close = "</" + name
            var k = end
            var found = -1
            while (found < 0 && k + close.length <= n) {
              if (html.regionMatches(true, k, close, 0, close.length) && {
                    val after = k + close.length
                    after >= n || {
                      val ac = html.charAt(after)
                      ac == '>' || ac == '/' || isWs(ac)
                    }
                  }) found = k
              else k += 1
            }
            i = if (found < 0) n else tagEnd(found + close.length)
          } else {
            if (terminated && name == "a") {
              if (closing) linkDepth = math.max(0, linkDepth - 1)
              else { nLinks += 1; if (!selfClosing) linkDepth += 1 }
            }
            if (blockTags.contains(name)) endSegment()
            i = end
          }
        } else { emit('<'); i += 1 } // a bare '<' is text
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        val decoded: Option[Int] =
          if (semi < 0 || semi - i > 10) None
          else {
            val body = html.substring(i + 1, semi)
            if (body.startsWith("#x") || body.startsWith("#X"))
              try Some(Integer.parseInt(body.substring(2), 16))
              catch { case _: NumberFormatException => None }
            else if (body.startsWith("#"))
              try Some(Integer.parseInt(body.substring(1)))
              catch { case _: NumberFormatException => None }
            else named.get(body).map(_.toInt)
          }
        decoded match {
          // NUL, surrogate code points and beyond-Unicode references map
          // to U+FFFD (the HTML spec's rule) — appendCodePoint on a lone
          // surrogate would otherwise mutate to '?' during UTF-8 encoding
          // AFTER counting, desynchronizing text from text_chars
          case Some(cp) if cp == 0 || (cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF =>
            emit(0xFFFD); i = semi + 1
          case Some(cp) if cp > 0 => emit(cp); i = semi + 1
          case _ => emit('&'); i += 1 // unknown entity stays literal
        }
      } else {
        val cp = html.codePointAt(i)
        emit(cp)
        i += Character.charCount(cp)
      }
    }
    endSegment()
    val text = segments.map(collapse).filter(_.nonEmpty).mkString("\n")
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(text),
      textChars, linkChars, nLinks)
  }
}

/** PII detection + redaction in ONE per-row pass (r14) — the scrubbing
  * stage every production training-data release runs (the public
  * Dolma/BigScience convention: regex classes for email / IP / phone
  * redacted to typed `|||…|||` placeholders; see allenai/dolma's pii
  * tagger for the placeholder form). ZERO shuffle: a document's scrub
  * depends only on its own bytes, so the 100 TB shape is a scan-stage
  * codegen'd expression.
  *
  * Exactly three pattern classes, applied as three SEQUENTIAL
  * leftmost-non-overlapping replace passes in a FIXED order — email →
  * IPv4 → phone — each pass counting its matches on the text the
  * previous pass produced (order matters: IPs redact before phones so
  * dotted octets can never half-match a phone). The patterns use only
  * the syntax subset whose semantics are IDENTICAL in java.util.regex
  * and RE2 (explicit `[0-9]`/`[A-Za-z]` classes, ASCII `\b`, `(?:…)`,
  * bounded quantifiers — never `\d`/`\s`/flags, whose definitions
  * differ), so a DuckDB oracle chaining `regexp_extract_all` +
  * `regexp_replace(…, 'g')` over the same three pattern strings
  * reproduces every byte of the redacted text and every count.
  *
  * Output struct: `text` (redacted), `n_email`, `n_ip`, `n_phone`. */
case class PiiScan(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_email", IntegerType, nullable = false),
    StructField("n_ip", IntegerType, nullable = false),
    StructField("n_phone", IntegerType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pii_scan expects string, got $other")
    }

  override def nullSafeEval(v: Any): Any = PiiScan.scan(v.toString)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PiiScan.scan($s.toString());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PiiScan {
  /** The three pattern strings are PUBLIC so the gate's DuckDB oracle
    * embeds the byte-identical regex (no second hand-written copy that
    * could drift). RE2 ∩ java.util.regex subset only — see class doc. */
  val EmailPattern: String =
    """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"""
  /** Octet-exact IPv4 (0-255 per octet, no leading-garbage digits — the
    * `\b` plus the octet alternation refuse `999.1.1.1` outright). */
  val Ipv4Pattern: String =
    """\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}""" +
      """(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"""
  /** NANP-shaped phones WITH separators: `(555) 123-4567`, `555-123-4567`,
    * `555.123.4567`, `555 123 4567`. Bare 10-digit runs do NOT match —
    * too false-positive-prone in numeric corpora (ids, timestamps). */
  val PhonePattern: String =
    """(?:\([0-9]{3}\)[-. ]?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b"""

  val EmailPlaceholder = "|||EMAIL_ADDRESS|||"
  val IpPlaceholder    = "|||IP_ADDRESS|||"
  val PhonePlaceholder = "|||PHONE_NUMBER|||"

  // compiled once per JVM; placeholders contain no '$'/'\' so they are
  // literal under Matcher.appendReplacement
  private val passes: Array[(java.util.regex.Pattern, String)] = Array(
    java.util.regex.Pattern.compile(EmailPattern) -> EmailPlaceholder,
    java.util.regex.Pattern.compile(Ipv4Pattern)  -> IpPlaceholder,
    java.util.regex.Pattern.compile(PhonePattern) -> PhonePlaceholder)

  /** Static kernel, shared by interpreted and generated code. */
  def scan(s: String): org.apache.spark.sql.catalyst.InternalRow = {
    var cur = s
    val counts = new Array[Int](3)
    var i = 0
    while (i < passes.length) {
      val (p, repl) = passes(i)
      val m = p.matcher(cur)
      if (m.find()) {
        var n = 0
        val sb = new java.lang.StringBuilder(cur.length)
        do { n += 1; m.appendReplacement(sb, repl) } while (m.find())
        m.appendTail(sb)
        counts(i) = n
        cur = sb.toString
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(cur),
      counts(0), counts(1), counts(2))
  }
}

/** UTF-8 text → its zlib-DEFLATE compressed size in bytes, at a fixed
  * compression level — the raw ingredient of the classic "gzip filter" of
  * corpus curation: near-random bytes (minified junk, base64 blobs,
  * binary-ish noise) compress to ~raw size while templated/repetitive
  * boilerplate collapses, so the compressed/raw ratio separates both
  * tails from prose in one number. Only the SIZE leaves the kernel (the
  * signal never needs the bytes).
  *
  * Determinism: the JDK's Deflater is zlib with fixed level + default
  * strategy — bit-stable for a given input on a given runtime, but NOT a
  * cross-engine contract (zlib versions may pick different encodings), so
  * gates pin PROPERTIES of the ratio, never golden sizes. Native state is
  * PROCESS-scoped: one (Deflater, scratch buffer) per (thread, level) in
  * the companion's ThreadLocal pool — expression instances are copied per
  * task (codegen references deserialize per task; streaming re-plans per
  * micro-batch), so an instance-scoped ThreadLocal would abandon an
  * un-end()ed native zlib stream per task, while the process pool caps
  * native state at threads × levels for the executor's lifetime. */
case class DeflateSize(child: Expression, level: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(level >= 0 && level <= 9, s"deflate_size: level $level not in [0, 9]")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"deflate_size expects a string column, got $other")
    }

  def sizeOf(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val (d, buf) = DeflateSize.forLevel(level)
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    require(total <= Int.MaxValue, s"deflate_size: compressed size $total overflows Int")
    total.toInt
  }

  override def nullSafeEval(v: Any): Any =
    sizeOf(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("deflateSize", this, classOf[DeflateSize].getName)
    defineCodeGen(ctx, ev, s => s"$ref.sizeOf($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateSize {
  /** One (Deflater, 16 KB scratch) per (thread, level), process lifetime:
    * never racy (thread-confined), never re-allocated per task, and the
    * bounded pool means end() is only owed at process exit. */
  private val pool = new ThreadLocal[Array[(java.util.zip.Deflater, Array[Byte])]] {
    override def initialValue(): Array[(java.util.zip.Deflater, Array[Byte])] =
      new Array[(java.util.zip.Deflater, Array[Byte])](10)
  }

  private[functions] def forLevel(level: Int): (java.util.zip.Deflater, Array[Byte]) = {
    val slots = pool.get()
    if (slots(level) == null)
      slots(level) = (new java.util.zip.Deflater(level), new Array[Byte](16384))
    slots(level)
  }
}

object TextFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Per-row n-gram repetition counts over a token array (see
    * [[RepetitionStats]]). */
  def repetition_stats(tokens: Column, n: Int): Column =
    column(RepetitionStats(expression(tokens), n))

  /** Per-row duplicate-fragment counts over an array of lines/paragraphs
    * (see [[FragmentDupStats]]). */
  def fragment_dup_stats(frags: Column): Column =
    column(FragmentDupStats(expression(frags)))

  /** Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfc_normalize(c: Column): Column =
    column(NfcNormalize(expression(c)))

  /** HTML → (text, text_chars, link_chars, n_links) (see [[HtmlExtract]]). */
  def html_extract(c: Column): Column =
    column(HtmlExtract(expression(c)))

  /** PII scrub → (text, n_email, n_ip, n_phone) (see [[PiiScan]]). */
  def pii_scan(c: Column): Column =
    column(PiiScan(expression(c)))

  /** zlib-DEFLATE compressed size of a string's UTF-8 bytes (see
    * [[DeflateSize]]). */
  def deflate_size(c: Column, level: Int = 6): Column =
    column(DeflateSize(expression(c), level))

  /** Whitespace tokens, empties removed (see [[WhitespaceTokens]]). */
  def whitespace_tokens(c: Column): Column = column(WhitespaceTokens(expression(c)))

  /** (n_tokens, n_alpha, n_digit, n_punct, n_space) per row (see
    * [[QualityCounts]]). */
  def quality_counts(c: Column): Column = column(QualityCounts(expression(c)))
}
