package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row term-frequency vector: token array → `array<int>` of occurrence
  * counts for a FIXED term list (the query vocabulary of a BM25 batch —
  * [[graft.operators.KeywordSearch]]). One pass over the row's tokens,
  * UTF8String byte comparison against the term table (query vocabularies
  * are a handful of terms, so a linear probe beats hash overhead), zero
  * shuffle, codegen'd via the shared reference-object pattern.
  *
  * A higher-order `transform(terms, t -> size(filter(tokens, ...)))` would
  * compute the same vector but interpreted AND with a full tokens pass per
  * term — the classifier-kernel lesson (r10: ~90× on the corpus scan). */
case class TermCounts(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    terms: Seq[String])
  extends UnaryExpression {

  require(terms.nonEmpty, "term_counts: empty term list")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"term_counts expects array<string> tokens, got $other")
    }

  @transient private lazy val termBytes: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  def count(tokens: ArrayData): GenericArrayData = {
    val out = new Array[Int](termBytes.length)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var j = 0
        while (j < termBytes.length) {
          if (termBytes(j).equals(t)) out(j) += 1
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = count(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
    nullSafeCodeGen(ctx, ev, toks => s"${ev.value} = $ref.count($toks);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

/** SPARSE per-row term postings: token array → `array<struct<term, cnt>>`
  * of the row's occurrence counts for the terms it actually contains, out
  * of a FIXED vocabulary (a BM25 battery's union vocabulary —
  * [[graft.operators.KeywordSearch.bm25Batch]]'s posting build). The
  * dense sibling [[TermCounts]] is right for the literal scoring form
  * (every query indexes the full vector), but as a POSTING builder it
  * pays O(|vocab|) per row twice — materializing the vector and
  * posexploding it — which is why the r13/r14 engine capped the kernel
  * path at 1,024 terms and fell back to a full-corpus token explode +
  * semi-join + groupBy. This kernel is O(tokens · log |vocab|) per row
  * (binary search over the byte-sorted term table) + O(matches) output,
  * independent of vocabulary size: the in-scan path now serves the
  * realistic big-battery shapes (10⁴–10⁵ distinct probe terms) that used
  * to force the explode.
  *
  * Output pairs are term-ascending (byte order) with exact integer
  * counts — identical rows to the explode+groupBy build, which is the
  * forced-branch gates' bit-parity contract. Vocabulary terms must be
  * distinct (duplicate vocabulary entries would double-count in the
  * dense kernel but silently drop here — refuse at construction). */
case class TermPostings(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    terms: Seq[String])
  extends UnaryExpression {

  require(terms.nonEmpty, "term_postings: empty term list")
  require(terms.toSet.size == terms.length,
    "term_postings: vocabulary terms must be distinct")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"term_postings expects array<string> tokens, got $other")
    }

  @transient private lazy val sortedTerms: Array[UTF8String] = {
    val arr = terms.map(UTF8String.fromString).toArray
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    arr
  }

  private def find(t: UTF8String): Int = {
    var lo = 0
    var hi = sortedTerms.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = sortedTerms(mid).compareTo(t)
      if (c == 0) return mid
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    -1
  }

  def postings(tokens: ArrayData): GenericArrayData = {
    val n = tokens.numElements()
    val hits = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val p = find(tokens.getUTF8String(i))
        if (p >= 0) { hits(m) = p; m += 1 }
      }
      i += 1
    }
    java.util.Arrays.sort(hits, 0, m)
    // run-length encode the sorted hit indices → (term, cnt) rows,
    // term-ascending by construction (sortedTerms is byte-sorted)
    var runs = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && hits(j) == hits(i)) j += 1
      runs += 1
      i = j
    }
    val out = new Array[Any](runs)
    var r = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && hits(j) == hits(i)) j += 1
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](sortedTerms(hits(i)), j - i))
      r += 1
      i = j
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = postings(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("termPostings", this, classOf[TermPostings].getName)
    nullSafeCodeGen(ctx, ev, toks => s"${ev.value} = $ref.postings($toks);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

/** The banded-proximity occurrence count of ONE phrase in one token
  * array — the row-local twin of
  * [[graft.operators.KeywordSearch.bm25PhraseTopK]]'s positional-index
  * adjacency vote (same semantics: overlapping matches all count,
  * repeated phrase terms must each match; ordinal i matches anywhere in
  * [start+i, start+i+slop], including the documented repeated-term band
  * overlap), so the frozen-model scorer stays bit-identical to the
  * indexed phrase/NEAR search. O(tokens·L·(slop+1)) worst case per row. */
private[functions] object PhraseKernel {
  def count(tokens: ArrayData, termBytes: Array[UTF8String], slop: Int): Int = {
    val n = tokens.numElements()
    val l = termBytes.length
    var c = 0
    var s = 0
    // ordinal l-1 needs a position >= s + l - 1, so the start bound is
    // the same at every slop (the band extends RIGHT, not left)
    while (s + l <= n) {
      var o = 0
      var ok = true
      while (ok && o < l) {
        var d = 0
        var hit = false
        while (!hit && d <= slop) {
          val p = s + o + d
          hit = p < n && !tokens.isNullAt(p) &&
            termBytes(o).equals(tokens.getUTF8String(p))
          d += 1
        }
        ok = hit
        o += 1
      }
      if (ok) c += 1
      s += 1
    }
    c
  }
}

/** Per-row QUOTED-PHRASE battery count (r17): evaluate a WHOLE
  * phrase battery against one token array in one expression — token
  * array → sparse `array<struct<phrase int, tf int>>` of the battery
  * indices with tf > 0, ascending. The battery is a reference object
  * inside ONE expression, so the plan shape is constant at any battery
  * size, with one corpus pass and zero shuffle — what lets
  * [[graft.operators.KeywordSearch.bm25PhraseScore]] score a STREAM
  * against a frozen phrase model with no state store, from a few
  * phrases up to the decontamination stream's thousands of eval n-gram
  * probes.
  *
  * Work per row is NOT battery-linear: candidates gate through a
  * first-token hash index (a phrase can only match if its first term
  * occurs in the doc — the band extends right), then an all-terms-
  * present check against the row's token set, and only survivors run
  * the full [[PhraseKernel]] loop — the row-local mirror of
  * bm25PhraseBatch's rarest-term candidate pruning. An EMPTY phrase
  * matches nothing (the battery-as-data rule: a blank probe must not
  * refuse a million-probe sweep). */
case class PhraseCountBatch(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    phrases: Seq[Seq[String]],
    slop: Int = 0)
  extends UnaryExpression {

  require(phrases.nonEmpty, "phrase_count_batch: empty battery")
  require(slop >= 0, s"phrase_count_batch: slop must be >= 0, got $slop")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("phrase", IntegerType, nullable = false),
    StructField("tf", IntegerType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"phrase_count_batch expects array<string> tokens, got $other")
    }

  @transient private lazy val termBytes: Array[Array[UTF8String]] =
    phrases.map(_.map(UTF8String.fromString).toArray).toArray

  // first term → battery indices: the candidate gate (empty phrases
  // are indexed nowhere, so they can never match)
  @transient private lazy val byFirstTerm: java.util.HashMap[UTF8String, java.util.ArrayList[Integer]] = {
    val m = new java.util.HashMap[UTF8String, java.util.ArrayList[Integer]]()
    var i = 0
    while (i < termBytes.length) {
      if (termBytes(i).nonEmpty) {
        var lst = m.get(termBytes(i)(0))
        if (lst == null) { lst = new java.util.ArrayList[Integer](); m.put(termBytes(i)(0), lst) }
        lst.add(Integer.valueOf(i))
      }
      i += 1
    }
    m
  }

  def hits(tokens: ArrayData): GenericArrayData = {
    val n = tokens.numElements()
    // one pass: the row's distinct-token set + candidate battery indices
    val present = new java.util.HashSet[UTF8String](math.max(16, n * 2))
    val cand = new java.util.BitSet(termBytes.length)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        if (present.add(t)) {
          val lst = byFirstTerm.get(t)
          if (lst != null) {
            var j = 0
            while (j < lst.size()) { cand.set(lst.get(j).intValue()); j += 1 }
          }
        }
      }
      i += 1
    }
    val out = new java.util.ArrayList[Any]()
    var idx = cand.nextSetBit(0)
    while (idx >= 0) {
      val terms = termBytes(idx)
      var all = true
      var o = 1 // ordinal 0 is present by construction of the gate
      while (all && o < terms.length) { all = present.contains(terms(o)); o += 1 }
      if (all) {
        val c = PhraseKernel.count(tokens, terms, slop)
        if (c > 0) out.add(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](idx, c)))
      }
      idx = cand.nextSetBit(idx + 1)
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = hits(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseCountBatch", this, classOf[PhraseCountBatch].getName)
    nullSafeCodeGen(ctx, ev, toks => s"${ev.value} = $ref.hits($toks);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

/** Ordered fold of (ord, contrib) structs: sort by `ord` ascending, then
  * sum `contrib` LEFT-TO-RIGHT — the bit-deterministic per-(query, doc)
  * score reduction of [[graft.operators.KeywordSearch.bm25Batch]]'s
  * posting join. Native because the declarative form
  * (`aggregate(array_sort(collect_list(...)))`) is interpreted per
  * element by Catalyst — measured ~2× the whole query's runtime on a
  * 1,000-probe battery. Bit-identical to that form: array_sort orders
  * structs by leading field (ord is unique per group), and the fold here
  * adds in exactly that order from +0.0. */
case class OrderedContribSum(child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 2 &&
          s(0).dataType == IntegerType && s(1).dataType == DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ordered_contrib_sum expects array<struct<int, double>>, got $other")
    }

  def fold(items: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = items.numElements()
    // (ord << 32 | index) keys: one primitive sort recovers ord order
    // (ord >= 0 and unique per group by construction)
    val keys = new Array[Long](n)
    val contribs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = items.getStruct(i, 2)
      keys(i) = (row.getInt(0).toLong << 32) | i.toLong
      contribs(i) = row.getDouble(1)
      i += 1
    }
    java.util.Arrays.sort(keys)
    var acc = 0.0
    i = 0
    while (i < n) { acc += contribs((keys(i) & 0xffffffffL).toInt); i += 1 }
    acc
  }

  override def nullSafeEval(v: Any): Any =
    fold(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("orderedSum", this, classOf[OrderedContribSum].getName)
    nullSafeCodeGen(ctx, ev, items => s"${ev.value} = $ref.fold($items);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}
