package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Guard rail for the deliberate driver-side materializations in the
  * catalog plane: the asset table itself when it has at most the cap of
  * rows ([[CatalogReader.loadTable]] holds it as a local relation), group
  * records in [[EsmCatalog.getEntry]] and [[EsmCatalog.toDatasetDict]], and
  * the dict-inline save in [[CatalogWriter]]. Each is bounded — catalog
  * groups are metadata-sized, and a table above the cap stays a distributed
  * scan — but at 100 TB "by construction" deserves a tripwire: a
  * mis-grouped catalog (e.g. groupby attrs that don't actually partition the
  * asset rows) would otherwise OOM the driver with no useful message.
  *
  * The cap is read from the session conf (`spark.graft.driverCollect.maxRows`,
  * default 100k rows) so an operator who KNOWS a big dict catalog is fine can
  * raise it per session without a code change; `Int.MaxValue` means no cap,
  * and a value that is not a non-negative integer is refused. The check
  * costs nothing extra: we collect `limit(max + 1)` — one row beyond the cap
  * proves the overflow without counting the full result.
  */
object DriverGuard {

  val confKey = "spark.graft.driverCollect.maxRows"
  val defaultMaxRows = 100000

  /** Collect `df` to the driver, failing fast (with the configured cap and
    * the offending context in the message) if it exceeds the cap. */
  def boundedCollect(df: DataFrame, what: String): Array[Row] = {
    val max  = maxRows(df.sparkSession)
    val rows = df.limit(probeLimit(max)).collect()
    require(rows.length <= max,
      s"$what would materialize more than $max rows on the driver " +
        s"(cap '$confKey' = $max). This usually means the catalog grouping " +
        "does not bound the set as expected; fix the grouping or raise the cap.")
    rows
  }

  /** Assert `df` has at most the capped number of rows WITHOUT collecting
    * it — for collects whose driver volume hides inside nested structures
    * (e.g. collect_list'ed group records), where capping the outer row
    * count alone would let the payload through. `limit(max+1).count()`
    * early-exits the scan. */
  def assertBounded(df: DataFrame, what: String): Unit = {
    val max = maxRows(df.sparkSession)
    check(df.limit(probeLimit(max)).count(), max, what)
  }

  /** [[assertBounded]] for a row count the caller already holds (the
    * catalog's group pass sums its counts): same cap, same message, no job. */
  def requireBounded(rows: Long, spark: SparkSession, what: String): Unit =
    check(rows, maxRows(spark), what)

  /** The rows of `df` when its optimized plan is a local relation — the
    * optimizer folded every filter and projection over a driver-held table
    * — else `None`. The collect reuses the plan just optimized and runs no
    * job. */
  private[catalog] def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect())
      case _                => None
    }

  private[catalog] def maxRows(spark: SparkSession): Int = {
    val raw = spark.conf.get(confKey, defaultMaxRows.toString)
    raw.trim.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"'$confKey' must be a row count from 0 to ${Int.MaxValue}, got '$raw'"))
  }

  /** The `limit` that proves a result has more than `max` rows: `max + 1`,
    * or `max` itself at `Int.MaxValue` (no cap), where `max + 1` overflows. */
  private[catalog] def probeLimit(max: Int): Int =
    if (max == Int.MaxValue) max else max + 1

  private def check(rows: Long, max: Int, what: String): Unit =
    require(rows <= max,
      s"$what exceeds $max rows (cap '$confKey' = $max); " +
        "fix the catalog bound or raise the cap.")
}
