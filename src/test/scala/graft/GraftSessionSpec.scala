package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared harness session and the bench's row selection. */
class GraftSessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("GraftSession.local sets master, shuffle partitions, agg fallback, UTC and no UI") {
    // TestSpark is GraftSession.local(4, 4)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "4096")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("Bench times exactly the named rows and refuses an unknown name by name") {
    assert(Bench.rowsToTime(Seq("search_bm25_topk")) === Seq("search_bm25_topk"))
    // a bench-only extra is as nameable as a registered gate query
    assert(Bench.rowsToTime(Seq("search_bm25_batch_1k", "q1_agg")) ===
      Seq("search_bm25_batch_1k", "q1_agg"))
    val e = intercept[IllegalArgumentException] {
      Bench.rowsToTime(Seq("q1_agg", "search_bm25_topkk"))
    }
    assert(e.getMessage.contains("search_bm25_topkk"), e.getMessage)
    assert(!e.getMessage.contains("q1_agg"), e.getMessage)
  }

  test("Bench with no names sweeps every frozen subtotal row") {
    val rows = Bench.rowsToTime(Nil).toSet
    assert(Bench.sharedRows.filterNot(rows).isEmpty)
    assert(Bench.baselineRows.filterNot(rows).isEmpty)
  }
}
