package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.RegexFind.regexFind

/** The catalog search algebra, compiled to a single Catalyst predicate.
  *
  * Semantics ported exactly from the reference (intake_esm/_search.py:32-58):
  * `mask = AND over query columns ( OR over values ( exact | regex | null |
  * array-membership ) )`. The whole query becomes ONE `Column` predicate, so
  * Catalyst pushes it into the parquet/CSV scan (predicate pushdown + row-group
  * skipping) — at 100 TB the filter runs inside the scan, nothing is collected.
  */
object QueryCompiler {

  /** A normalized query: column → list of values (null allowed). */
  type Query = Map[String, Seq[Any]]

  private val wildcardChars = List('*', '?', '$', '^')

  /** Is a string value a regex pattern? A value is a pattern iff it contains
    * an *unescaped* `*`, `?`, `$` or `^` — ported from _search.py:19-29
    * (truth table: tests/test_search.py:11-27).
    */
  def isPattern(value: String): Boolean = {
    var v = value
    wildcardChars.foreach(c => v = v.replace("\\" + c, ""))
    wildcardChars.exists(v.contains(_))
  }

  /** A pre-compiled pattern is ALWAYS a pattern, carrying its own flags —
    * the reference accepts `re.compile('hist.*', re.IGNORECASE)` as a query
    * value (_search.py:19-21, tests/test_search.py:23,110-119). The JVM
    * equivalents are `java.util.regex.Pattern` / `scala.util.matching.Regex`.
    */
  def isPattern(value: Any): Boolean = value match {
    case _: java.util.regex.Pattern      => true
    case _: scala.util.matching.Regex    => true
    case s: String                       => isPattern(s)
    case _                               => false
  }

  /** Embed a compiled pattern's flags as an inline `(?imsux)` group so the
    * semantics survive the trip through [[graft.functions.RegexFind]] (which
    * takes only a pattern string). Covers the flags `re` and
    * `java.util.regex` share. */
  private def embedFlags(p: java.util.regex.Pattern): String = {
    import java.util.regex.Pattern._
    val flags = Seq(
      CASE_INSENSITIVE -> "i", MULTILINE -> "m", DOTALL -> "s",
      COMMENTS -> "x", UNICODE_CASE -> "u",
    ).collect { case (bit, ch) if (p.flags() & bit) != 0 => ch }.mkString
    if (flags.isEmpty) p.pattern else s"(?$flags)${p.pattern}"
  }

  /** Validate + normalize a raw query (reference QueryModel, cat.py:456-489):
    * unknown columns error; scalar values wrap to 1-element lists;
    * `require_all_on` normalizes to a list and is validated.
    */
  def normalize(
      query: Map[String, Any],
      columns: Seq[String],
      requireAllOn: Option[Seq[String]] = None,
  ): (Query, Option[Seq[String]]) = {
    query.keys.foreach { k =>
      require(columns.contains(k), s"Column $k not in columns ${columns.mkString("[", ", ", "]")}")
    }
    requireAllOn.foreach(_.foreach { k =>
      require(columns.contains(k), s"Column $k not in columns ${columns.mkString("[", ", ", "]")}")
    })
    val norm: Query = query.map {
      case (k, v: Seq[_]) => k -> v.asInstanceOf[Seq[Any]]
      case (k, v)         => k -> Seq(v)
    }
    (norm, requireAllOn)
  }

  /** One (column, value) predicate — the four match shapes of _search.py:47-54. */
  private def valuePredicate(df: DataFrame, column: String, value: Any, isIterable: Boolean): Column = {
    val c            = col(column)
    val colIsString  = df.schema(column).dataType == StringType
    if (isIterable) {
      // iterable columns: element-equality membership, never regex (_search.py:47-48)
      array_contains(c, lit(value))
    } else if (value == null) {
      c.isNull // null query value matches null cells (_search.py:51-52)
    } else
      value match {
        case p: java.util.regex.Pattern if colIsString =>
          regexFind(c, embedFlags(p)) // compiled pattern: its flags ride along
        case r: scala.util.matching.Regex if colIsString =>
          regexFind(c, embedFlags(r.pattern))
        case (_: java.util.regex.Pattern) | (_: scala.util.matching.Regex) =>
          lit(false) // reference: non-string column == pattern is all-False
        case s: String if colIsString && isPattern(s) =>
          regexFind(c, s) // unanchored, case-sensitive find (_search.py:49-50)
        case v =>
          c === lit(v)
      }
  }

  /** Compile a normalized query to a single predicate. Empty query → None
    * (caller returns the empty frame, _search.py:37-38). */
  def compile(df: DataFrame, query: Query, columnsWithIterables: Set[String]): Option[Column] =
    if (query.isEmpty) None
    else
      Some(
        query.toSeq.map { case (column, values) =>
          values
            .map(v => valuePredicate(df, column, v, columnsWithIterables.contains(column)))
            // empty value list → match nothing (the reference's OR-fold over
            // no values is an all-False mask), not empty.reduce crash
            .reduceOption(_ || _).getOrElse(lit(false))
        }.reduce(_ && _)
      )

  /** `search`: empty query → empty frame with the same columns
    * (_search.py:37-38); otherwise a single pushed-down filter. */
  def search(df: DataFrame, query: Query, columnsWithIterables: Set[String] = Set.empty): DataFrame =
    compile(df, query, columnsWithIterables) match {
      case None       => df.limit(0)
      case Some(pred) => df.filter(pred)
    }

  /** `require_all_on` group-subset filter (_search.py:61-99).
    *
    * Keep only groups (over `requireAllOn` columns) whose set of tuples over
    * the *remaining* query keys — after exploding iterable key columns — is a
    * superset of the Cartesian product of the query value lists.
    *
    * Distributed shape: one exploded projection → `groupBy(requireAllOn)
    * .agg(countDistinct(struct(keys)))` compared against `|product|` → a
    * left-semi join back. The aggregate output is small (one row per group),
    * so AQE converts the semi join to a broadcast join — no full-table
    * shuffle of the fact side at scale. Membership in the product set uses
    * *exact* equality (never regex), matching the reference's tuple-set test.
    *
    * Pandas `groupby` drops null group keys (the reference inherits this);
    * the equality semi-join reproduces that — null keys never match.
    */
  def applyRequireAllOn(
      filtered: DataFrame,
      query: Query,
      requireAllOn: Seq[String],
      columnsWithIterables: Set[String] = Set.empty,
  ): DataFrame = {
    val sub  = query -- requireAllOn
    val keys = sub.keys.toSeq.sorted
    if (keys.isEmpty) {
      // condition = {()} — every (non-null-keyed) group qualifies
      return filtered.filter(requireAllOn.map(col(_).isNotNull).reduce(_ && _))
    }
    val distinctVals = sub.map { case (k, vs) => k -> vs.distinct.filter(_ != null) }
    val condSize     = distinctVals.values.map(_.size.toLong).product

    var exploded = filtered.select((requireAllOn ++ keys).distinct.map(col): _*)
    keys.filter(columnsWithIterables.contains).foreach { c =>
      exploded = exploded.withColumn(c, explode(col(c)))
    }
    val inCondition = keys
      .map(c => distinctVals(c).map(v => col(c) === lit(v)).reduceOption(_ || _).getOrElse(lit(false)))
      .reduce(_ && _)
    val qualifying = exploded
      .filter(inCondition)
      .groupBy(requireAllOn.map(col): _*)
      .agg(countDistinct(struct(keys.map(col): _*)).as("__graft_cnt"))
      .filter(col("__graft_cnt") === lit(condSize))
      .select(requireAllOn.map(col): _*)
    // the using-columns join moves join keys first; restore original order
    filtered.join(qualifying, requireAllOn, "left_semi")
      .select(filtered.columns.map(col).toIndexedSeq: _*)
  }

  /** Full search pipeline: base filter, then the optional require-all-on pass
    * (reference: cat.py:435-452). */
  def searchWithRequireAllOn(
      df: DataFrame,
      rawQuery: Map[String, Any],
      requireAllOn: Option[Seq[String]],
      columnsWithIterables: Set[String] = Set.empty,
  ): DataFrame = {
    val (query, rao) = normalize(rawQuery, df.columns.toSeq, requireAllOn)
    val base         = search(df, query, columnsWithIterables)
    rao match {
      case Some(cols) if cols.nonEmpty => applyRequireAllOn(base, query, cols, columnsWithIterables)
      case _                           => base
    }
  }

  /** Single-column explode helper (_search.py:8-16). */
  def unpackIterableColumn(df: DataFrame, column: String): DataFrame =
    df.withColumn(column, explode(col(column)))
}
