package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-robustness gate over the driver-generated fixtures.
  *
  * The r6 post-mortem: `/root/testdata` was regenerated with `events.ts` as
  * timestamp[us] (previously TIMESTAMP(NANOS)) and a hardcoded `ts div 1000`
  * broke four queries *silently*. The fixture schemas are driver-owned and
  * can change between rounds, so every assumption the engine makes about
  * them is asserted HERE, loudly, with a named failure — if the testdata
  * shifts again, this suite is the first red light, naming the exact column.
  *
  * Two kinds of checks:
  *   1. structural: each table loads and carries the columns the query
  *      registry consumes, with types in the engine's dispatchable set;
  *   2. behavioral: the schema-dispatching readers (events.us) produce the
  *      semantics the DuckDB oracle computes, for the CURRENT fixture.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def schemaOf(name: String): StructType =
    spark.read.parquet(s"$dir/$name.parquet").schema

  /** Types a column may carry for the engine to treat it as the given class. */
  private val integral: Set[DataType] = Set(IntegerType, LongType, ShortType)
  private val fractional: Set[DataType] = Set(FloatType, DoubleType)
  private def temporal(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType | DateType | LongType => true
    case _ => false
  }

  private def assertCols(table: String, want: Map[String, DataType => Boolean]): Unit = {
    val s = schemaOf(table)
    val have = s.fields.map(f => f.name -> f.dataType).toMap
    want.foreach { case (col, ok) =>
      assert(have.contains(col), s"$table.$col MISSING — fixture schema changed; " +
        s"present: ${s.fieldNames.mkString(", ")}")
      assert(ok(have(col)), s"$table.$col has undispatchable type ${have(col)} — " +
        "update the reader's schema dispatch (see gates.EventGates.events for the pattern)")
    }
  }

  test("events: every consumed column present, ts temporally dispatchable") {
    assertCols("events", Map(
      "event_id" -> integral.contains,
      "ts" -> temporal,
      "user_id" -> integral.contains,
      "event_type" -> (_ == StringType),
      "value" -> fractional.contains,
      "props" -> (_ == StringType),
    ))
  }

  test("events reader derives epoch micros identical to DuckDB epoch_us semantics") {
    // Pin the dispatch behaviorally: `us` must equal microseconds since the
    // epoch of the UTC wall clock stored in ts, whatever the physical type.
    import org.apache.spark.sql.functions._
    val e = gates.EventGates.events(spark, dir)
    assert(e.schema("us").dataType === LongType, "us must be exact integer micros")
    val bad = e.schema("ts").dataType match {
      case TimestampType | TimestampNTZType =>
        e.filter(unix_micros(col("ts").cast(TimestampType)) =!= col("us")).count()
      case LongType => // raw nanos path
        e.filter(expr("ts div 1000") =!= col("us")).count()
      case other => fail(s"events.ts unexpected type $other")
    }
    assert(bad === 0L)
    assert(e.count() > 0L)
  }

  test("lineitem: keys, measures, and shipdate dispatchable") {
    assertCols("lineitem", Map(
      "l_orderkey" -> integral.contains,
      "l_partkey" -> integral.contains,
      "l_suppkey" -> integral.contains,
      "l_linenumber" -> integral.contains,
      "l_quantity" -> fractional.contains,
      "l_extendedprice" -> fractional.contains,
      "l_discount" -> fractional.contains,
      "l_tax" -> fractional.contains,
      "l_returnflag" -> (_ == StringType),
      "l_linestatus" -> (_ == StringType),
      "l_shipdate" -> temporal,
    ))
  }

  test("orders: keys, totalprice, orderdate dispatchable") {
    assertCols("orders", Map(
      "o_orderkey" -> integral.contains,
      "o_custkey" -> integral.contains,
      "o_orderstatus" -> (_ == StringType),
      "o_totalprice" -> fractional.contains,
      "o_orderdate" -> temporal,
      "o_orderpriority" -> (_ == StringType),
    ))
  }

  test("dimension tables: region/nation/customer/supplier/part") {
    assertCols("region", Map("r_regionkey" -> integral.contains, "r_name" -> (_ == StringType)))
    assertCols("nation", Map(
      "n_nationkey" -> integral.contains, "n_name" -> (_ == StringType),
      "n_regionkey" -> integral.contains))
    assertCols("customer", Map(
      "c_custkey" -> integral.contains, "c_name" -> (_ == StringType),
      "c_nationkey" -> integral.contains, "c_acctbal" -> fractional.contains,
      "c_mktsegment" -> (_ == StringType)))
    assertCols("supplier", Map(
      "s_suppkey" -> integral.contains, "s_name" -> (_ == StringType),
      "s_nationkey" -> integral.contains, "s_acctbal" -> fractional.contains))
    assertCols("part", Map(
      "p_partkey" -> integral.contains, "p_name" -> (_ == StringType),
      "p_brand" -> (_ == StringType), "p_type" -> (_ == StringType),
      "p_size" -> integral.contains, "p_retailprice" -> fractional.contains))
  }

  test("documents/embeddings: LLM-pipeline inputs") {
    assertCols("documents", Map(
      "doc_id" -> integral.contains,
      "text" -> (_ == StringType),
      "lang" -> (_ == StringType),
      "source" -> (_ == StringType),
      "n_chars" -> integral.contains,
    ))
    val emb = schemaOf("embeddings")
    assert(emb("vec_id").dataType match { case t => integral(t) })
    emb("embedding").dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => ()
      case other => fail(s"embeddings.embedding is $other — vector ops expect array<float|double>")
    }
  }
}
