package graft
package gates

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.catalog.CatalogReader

/** A bench tag on a [[Gate]]. */
sealed trait Tag

object Tag {
  /** Timed by a bare `graft.Bench` run and listed on its stdout line. */
  case object Headline extends Tag
  /** The frozen round-10 row set (37 rows) that `shared_rows_total` sums,
    * the cross-round comparable new headline rows cannot inflate. Never
    * add or remove a tag. It carries `ann_ivf_topk_pipeline` in place of
    * `ann_ivf_topk`, which became a property-verdict row in r11: the
    * pipeline row runs the r10 row's exact query. */
  case object Shared extends Tag
  /** The frozen round-2 row set (24 rows, BENCH_r02.json) that
    * `baseline_rows_total` sums. Never add or remove a tag. It carries the
    * `_pipeline` rows of `ann_ivf_topk` and `dedup_minhash_lsh`, which run
    * the r2 rows' exact queries (per-row table: BASELINE.md). */
  case object Baseline extends Tag
  /** A bench-only row: no oracle, and `Verify` never dumps it. Its
    * correctness is carried by the gate that wraps the same path in
    * verification. */
  case object BenchOnly extends Tag
}

/** One correctness gate: a named DataFrame build over an sf directory and
  * the DuckDB SQL its rows must hash-match (`None` only for a
  * [[Tag.BenchOnly]] row). */
final case class Gate(name: String, tags: Set[Tag], build: Gate.Build, oracle: Option[String]) {
  /** The oracle SQL, for a gate that shares it verbatim. */
  def sql: String = oracle.getOrElse(throw new IllegalStateException(s"$name has no oracle"))
}

object Gate {
  type Build = (SparkSession, String) => DataFrame
}

/** A family file's gates, registered in definition order. A gate's oracle
  * is evaluated as it registers, so helpers an oracle reads are defined
  * above the gates. */
abstract class GateFamily {
  private val defined = ListBuffer.empty[Gate]

  final def gates: Seq[Gate] = defined.toList

  private def add(g: Gate): Gate = { defined += g; g }

  /** A hash gate: `build`'s rows must hash-match `oracle` under DuckDB. */
  protected final def gate(name: String, tags: Tag*)(build: Gate.Build, oracle: String): Gate =
    add(Gate(name, tags.toSet, build, Some(oracle)))

  /** A bench-only row: timed by `graft.Bench`, never dumped by `Verify`. */
  protected final def benchOnly(name: String, tags: Tag*)(build: Gate.Build): Gate =
    add(Gate(name, tags.toSet + Tag.BenchOnly, build, None))

  protected def T(s: SparkSession, dir: String, name: String): DataFrame =
    CatalogReader.readAssetTable(s, s"$dir/$name.parquet")

  /** Exact decimal sum rendered as double — identical in Spark and DuckDB
    * regardless of accumulation order. The oracle side hops through VARCHAR:
    * DuckDB's direct decimal→double cast divides `unscaled / 10^scale` in
    * floating point (1-ulp off for large sums — bit us at sf0.1), while its
    * string→double parse is correctly rounded, matching Spark's
    * BigDecimal.doubleValue at every magnitude. */
  protected def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
  protected val dsumSql = (x: String) => s"CAST(CAST(SUM(CAST($x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"

  protected def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** sf-dir → filesystem-safe token for per-sf /tmp fixture and store paths. */
  protected def tmpToken(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The unique row key of the synthetic lineitem table (the
    * (orderkey, linenumber) pair alone is NOT unique in this testdata). */
  protected val lineKey = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
}
