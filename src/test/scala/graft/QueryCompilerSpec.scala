package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.search.QueryCompiler

/** Port of the reference's golden search tables
  * (tests/test_search.py:11-27 is_pattern truth table, :30-155 search params,
  * :158-226 iterable-column cases). Compiled-regex cases are expressed as
  * inline-flag pattern strings (`(?i)…`), the Scala-native equivalent.
  */
class QueryCompilerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- is_pattern truth table (test_search.py:11-27)
  test("is_pattern") {
    assert(!QueryCompiler.isPattern("foo"))
    assert(QueryCompiler.isPattern("foo\\**bar"))
    assert(QueryCompiler.isPattern("foo\\?*bar"))
    assert(!QueryCompiler.isPattern("foo\\?\\*bar"))
    assert(!QueryCompiler.isPattern("foo\\*bar"))
    assert(QueryCompiler.isPattern("foo\\*bar*"))
    assert(QueryCompiler.isPattern("^foo"))
    assert(QueryCompiler.isPattern("^foo.*bar$"))
  }

  // the 10-row fixture frame (test_search.py:127-145)
  lazy val df: DataFrame = Seq(
    ("NCAR", "CESM", "hist", "O2"),
    ("IPSL", "FOO", "control", "O2"),
    ("IPSL", "FOO", "hist", "O2"),
    ("CSIRO", "BAR", "control", "O2"),
    ("IPSL", "FOO", "hist", "NO2"),
    ("NCAR", "CESM", "control", "O2"),
    ("NOAA", "GCM", "hist", "O2"),
    ("NCAR", "WACM", "hist", "TA"),
    ("NASA", "foo", "HiSt", "tAs"),
    (null, null, "exp", "UA"),
  ).toDF("A", "B", "C", "D")

  private def run(query: Map[String, Any], requireAllOn: Option[Seq[String]]): Set[Seq[Any]] =
    QueryCompiler.searchWithRequireAllOn(df, query, requireAllOn)
      .collect().map(_.toSeq).toSet

  private def rows(rs: (String, String, String, String)*): Set[Seq[Any]] =
    rs.map(r => Seq[Any](r._1, r._2, r._3, r._4)).toSet

  test("empty query returns empty frame with same columns") {
    val r = QueryCompiler.search(df, Map.empty)
    assert(r.columns.toSeq == Seq("A", "B", "C", "D"))
    assert(r.count() == 0)
  }

  test("require_all_on keeps only fully-covered groups") {
    assert(run(Map("C" -> Seq("control", "hist")), Some(Seq("B", "D"))) == rows(
      ("NCAR", "CESM", "hist", "O2"),
      ("NCAR", "CESM", "control", "O2"),
      ("IPSL", "FOO", "control", "O2"),
      ("IPSL", "FOO", "hist", "O2"),
    ))
    assert(run(Map("C" -> Seq("control", "hist"), "D" -> Seq("NO2")), Some(Seq("B"))).isEmpty)
    assert(run(Map("C" -> Seq("control", "hist"), "D" -> Seq("O2")), Some(Seq("B"))) == rows(
      ("NCAR", "CESM", "hist", "O2"),
      ("NCAR", "CESM", "control", "O2"),
      ("IPSL", "FOO", "control", "O2"),
      ("IPSL", "FOO", "hist", "O2"),
    ))
    assert(run(Map("C" -> Seq("hist"), "D" -> Seq("NO2", "O2")), Some(Seq("B"))) == rows(
      ("IPSL", "FOO", "hist", "O2"),
      ("IPSL", "FOO", "hist", "NO2"),
    ))
    // scalar values normalize to 1-lists; require_all_on col also in query
    assert(run(Map("C" -> "hist", "D" -> Seq("NO2", "O2"), "B" -> "FOO"), Some(Seq("B"))) == rows(
      ("IPSL", "FOO", "hist", "O2"),
      ("IPSL", "FOO", "hist", "NO2"),
    ))
  }

  test("exact match") {
    assert(run(Map("C" -> Seq("control")), None) == rows(
      ("IPSL", "FOO", "control", "O2"),
      ("CSIRO", "BAR", "control", "O2"),
      ("NCAR", "CESM", "control", "O2"),
    ))
  }

  test("regex + exact mix") {
    assert(run(Map("D" -> Seq("^O2$", "NO2"), "B" -> Seq("CESM", "BAR")), None) == rows(
      ("NCAR", "CESM", "hist", "O2"),
      ("CSIRO", "BAR", "control", "O2"),
      ("NCAR", "CESM", "control", "O2"),
    ))
    assert(run(Map("C" -> Seq("^co.*ol$")), None) == rows(
      ("IPSL", "FOO", "control", "O2"),
      ("CSIRO", "BAR", "control", "O2"),
      ("NCAR", "CESM", "control", "O2"),
    ))
  }

  test("case-insensitive via inline flags") {
    assert(run(Map("C" -> Seq("(?i)hist.*"), "D" -> Seq("(?i)TA.*")), None) == rows(
      ("NCAR", "WACM", "hist", "TA"),
      ("NASA", "foo", "HiSt", "tAs"),
    ))
  }

  test("compiled patterns carry their flags (test_search.py:110-119)") {
    // {'C': [re.compile('hist.*', re.IGNORECASE)], 'D': [re.compile('TA.*', re.IGNORECASE)]}
    import java.util.regex.Pattern
    val got = run(Map(
      "C" -> Seq(Pattern.compile("hist.*", Pattern.CASE_INSENSITIVE)),
      "D" -> Seq(Pattern.compile("TA.*", Pattern.CASE_INSENSITIVE))), None)
    assert(got == rows(("NCAR", "WACM", "hist", "TA"), ("NASA", "foo", "HiSt", "tAs")))
    // scala.util.matching.Regex with inline flags behaves identically
    val got2 = run(Map(
      "C" -> Seq("(?i)hist.*".r), "D" -> Seq("(?i)TA.*".r)), None)
    assert(got2 == got)
    // flagless compiled pattern == the plain string-pattern path
    val got3 = run(Map("C" -> Seq(Pattern.compile("^hist$"))), None)
    assert(got3 == run(Map("C" -> Seq("^hist$")), None))
  }

  test("regex values stay out of the generated Java") {
    import org.apache.spark.sql.execution.debug._
    // an RDD-backed copy: a filter over a local relation is folded away
    // by the optimizer and never reaches codegen
    val scanned = spark.createDataFrame(df.rdd, df.schema)
    val hits = QueryCompiler.search(scanned, Map("C" -> Seq("^co.*ol$", "(?i)HIST")))
    val code = hits.queryExecution.debug.codegenToSeq().map(_._2)
    assert(!code.exists(c => c.contains("co.*ol") || c.contains("HIST")), code.mkString("\n"))
    assert(code.exists(_.contains("RegexFind")), code.mkString("\n"))
    assert(hits.count() == 9)
  }

  test("is_pattern: compiled patterns are always patterns (test_search.py:23)") {
    assert(QueryCompiler.isPattern(java.util.regex.Pattern.compile("hist.*"): Any))
    assert(QueryCompiler.isPattern("hist.*".r: Any))
    assert(!QueryCompiler.isPattern(2: Any))
    assert(!QueryCompiler.isPattern("foo": Any))
  }

  test("null query value matches null cells") {
    assert(run(Map("A" -> Seq(null)), None) == rows((null, null, "exp", "UA")))
  }

  // ---- iterable-column membership (test_search.py:158-187)
  lazy val iterDf: DataFrame = Seq(
    ("file1", Seq("A", "B"), 1, Seq("bx", "by")),
    ("file2", Seq("A", "B", "C"), 2, Seq("bx", "bz")),
    ("file3", Seq("C", "D", "A"), 3, Seq("bx", "by")),
  ).toDF("path", "variable", "attr", "random")

  test("iterable membership with element equality") {
    val r1 = QueryCompiler.searchWithRequireAllOn(iterDf,
      Map("variable" -> Seq("A", "C"), "random" -> "bz"), None, Set("variable", "random"))
    assert(r1.select("path").as[String].collect().toSet == Set("file2"))
    val r2 = QueryCompiler.searchWithRequireAllOn(iterDf,
      Map("variable" -> Seq("A", "C"), "attr" -> Seq(1, 2)), None, Set("variable", "random"))
    assert(r2.select("path").as[String].collect().toSet == Set("file1", "file2"))
  }

  // ---- require_all_on with iterables (test_search.py:190-226)
  test("require_all_on explodes iterable key columns") {
    val df5 = Seq(
      ("file1", Seq("A", "B"), 1, Seq("bx", "by")),
      ("file2", Seq("C", "D"), 1, Seq("bx", "by")),
      ("file3", Seq("A"), 2, Seq("bx", "bz")),
      ("file4", Seq("B", "C"), 2, Seq("bx", "bz")),
      ("file5", Seq("C", "D", "A"), 3, Seq("bx", "by")),
    ).toDF("path", "variable", "attr", "random")
    val r = QueryCompiler.searchWithRequireAllOn(df5,
      Map("variable" -> Seq("A", "B"), "random" -> "bx"),
      Some(Seq("attr")), Set("variable", "random"))
    assert(r.select("path").as[String].collect().toSet == Set("file1", "file3", "file4"))
  }
}
