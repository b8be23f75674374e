package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tag._

/** Event-stream analytics in batch shape, plus the relational function-
  * coverage gates (grouping sets, scalar/datetime/map/json functions,
  * anti/range joins, set ops, rollup, pivot). */
object EventGates extends GateFamily {

  /** events.parquet's `ts` physical type has changed across testdata
    * regenerations — TIMESTAMP(NANOS) in one build, timestamp[us] in the
    * next — so dispatch on the schema actually read instead of assuming one:
    *   - timestamp / timestamp_ntz  → unix_micros (session tz is UTC, so an
    *     NTZ wall clock maps to the same epoch micros DuckDB's epoch_us
    *     computes on its naive TIMESTAMP);
    *   - long (TIMESTAMP(NANOS) re-read under nanosAsLong) → ts div 1000.
    * Both are exact integer math; the DuckDB oracle's epoch_us(ts) yields
    * the identical value for either physical encoding. The legacy
    * nanosAsLong conf is only set when a plain read refuses the NANOS
    * annotation — never unconditionally. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    def load() = T(s, dir, "events")
    val df =
      try load()
      catch {
        case e: Throwable if String.valueOf(e.getMessage).toUpperCase.contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load()
      }
    val us = df.schema("ts").dataType match {
      case TimestampType | TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case LongType                         => expr("ts div 1000")
      case other => throw new IllegalStateException(
        s"events.ts: unsupported type $other — expected timestamp, timestamp_ntz, " +
          "or long (raw nanos); update EventGates.events() for this fixture schema")
    }
    df.withColumn("us", us)
  }

  // ===== extensions: event-stream analytics (batch shape) =====

  gate("q_grouping_sets")((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           | FROM orders_v
           | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
           | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    },
    oracle = s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)

  gate("q_scalar_functions")((s, dir) => {
      T(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_type")).as("u"),
          lower(col("p_brand")).as("l"),
          substring(col("p_name"), 1, 5).as("pre"),
          length(col("p_name")).as("len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          abs(col("p_size") - 25).as("absz"),
          pmod(col("p_partkey"), lit(7)).as("m7"),
          floor(col("p_retailprice")).cast(LongType).as("flr"),
          ceil(col("p_retailprice")).cast(LongType).as("cl"),
          coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("thirteen")).as("co"),
          trim(lit("  x  ")).as("tr"))
        .orderBy("p_partkey")
    },
    oracle = """SELECT p_partkey, upper(p_type) AS u, lower(p_brand) AS l,
        | substr(p_name, 1, 5) AS pre, CAST(length(p_name) AS INT) AS len,
        | p_brand || '|' || p_type AS cat, abs(p_size - 25) AS absz,
        | CAST(p_partkey % 7 AS BIGINT) AS m7,
        | CAST(floor(p_retailprice) AS BIGINT) AS flr, CAST(ceil(p_retailprice) AS BIGINT) AS cl,
        | coalesce(nullif(p_brand, 'Brand#13'), 'thirteen') AS co,
        | trim('  x  ') AS tr
        | FROM part ORDER BY p_partkey""".stripMargin)

  gate("q_datetime_functions")((s, dir) => {
      // date/time function breadth over the order timeline
      val od = col("o_orderdate").cast("timestamp")
      T(s, dir, "orders")
        .filter(col("o_custkey") % 1000 === 0)
        .select(
          col("o_orderkey"),
          year(od).as("yr"), month(od).as("mo"), dayofmonth(od).as("dy"),
          (dayofweek(od) - 1).as("dow0"), dayofyear(od).as("doy"), quarter(od).as("qtr"),
          unix_micros(date_trunc("week", od)).as("week_start_us"),
          unix_micros(last_day(od.cast("date")).cast("timestamp")).as("month_end_us"),
          unix_micros(date_add(od.cast("date"), 30).cast("timestamp")).as("plus30_us"))
        .orderBy("o_orderkey")
    },
    oracle = """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        | CAST(day(o_orderdate) AS INT) AS dy, CAST(dayofweek(o_orderdate) AS INT) AS dow0,
        | CAST(dayofyear(o_orderdate) AS INT) AS doy, CAST(quarter(o_orderdate) AS INT) AS qtr,
        | epoch_us(date_trunc('week', o_orderdate)) AS week_start_us,
        | epoch_us(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)) AS month_end_us,
        | epoch_us(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)) AS plus30_us
        | FROM orders WHERE o_custkey % 1000 = 0 ORDER BY o_orderkey""".stripMargin)

  gate("q_map_functions")((s, dir) => {
      // map-typed column round trip: build, probe, enumerate
      val m = map(lit("lang"), col("lang"), lit("src"), col("source"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          element_at(m, "lang").as("m_lang"),
          element_at(m, "src").as("m_src"),
          size(m).as("n_keys"),
          array_join(map_keys(m), ",").as("keys"))
        .orderBy("doc_id")
    },
    oracle = """SELECT doc_id, lang AS m_lang, source AS m_src,
        | CAST(2 AS INT) AS n_keys, 'lang,src' AS keys
        | FROM documents ORDER BY doc_id""".stripMargin)

  gate("q_anti_join")((s, dir) => {
      // customers that never placed an urgent order (left_anti = NOT EXISTS)
      val c = T(s, dir, "customer")
      val urgent = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      c.join(urgent, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    oracle = """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        | ORDER BY c_custkey""".stripMargin)

  gate("q_range_join")((s, dir) => {
      // binned interval join: 7-day windows after sampled orders vs all order dates
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
      val o = T(s, dir, "orders")
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
      val day = 86400L * 1000000L
      val intervals = o.filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("window_key"), col("od_us").as("win_start"),
          (col("od_us") + lit(7L * day)).as("win_end"))
      val points = o.select(col("o_orderkey").as("point_key"), col("od_us"))
      graft.operators.RangeJoin
        .binnedIntervalJoin(intervals, points, "win_start", "win_end", "od_us", binWidth = 7L * day)
        .groupBy("window_key").agg(count(lit(1)).as("n_orders_in_window"))
        .orderBy("window_key")
    },
    oracle = """WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS od_us FROM orders),
        |i AS (SELECT o_orderkey AS window_key, od_us AS win_start,
        |        od_us + CAST(604800000000 AS BIGINT) AS win_end FROM o WHERE o_orderkey % 997 = 0)
        |SELECT i.window_key, COUNT(*) AS n_orders_in_window
        | FROM i JOIN o ON o.od_us >= i.win_start AND o.od_us < i.win_end
        | GROUP BY i.window_key ORDER BY i.window_key""".stripMargin)

  gate("q_set_ops")((s, dir) => {
      // languages seen in web-ish sources vs wiki-ish sources: INTERSECT / EXCEPT
      val docs = T(s, dir, "documents")
      val a = docs.filter(col("source").isin("src0", "src1", "src2")).select("lang")
      val b = docs.filter(col("source").isin("src3", "src4")).select("lang")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_a")))
        .orderBy("op", "lang")
    },
    oracle = """SELECT lang, 'both' AS op FROM (
        |  SELECT lang FROM documents WHERE source IN ('src0','src1','src2')
        |  INTERSECT
        |  SELECT lang FROM documents WHERE source IN ('src3','src4'))
        |UNION ALL
        |SELECT lang, 'only_a' FROM (
        |  SELECT lang FROM documents WHERE source IN ('src0','src1','src2')
        |  EXCEPT
        |  SELECT lang FROM documents WHERE source IN ('src3','src4'))
        |ORDER BY op, lang""".stripMargin)

  gate("q_rollup")((s, dir) => {
      T(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },
    oracle = s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)

  gate("q_pivot")((s, dir) => {
      // PIVOT with explicit values — listing them keeps the plan a single
      // groupBy (no extra distinct-values job at scale)
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))))
        .select(col("o_orderpriority"),
          col("F").cast(DoubleType).as("f_price"),
          col("O").cast(DoubleType).as("o_price"),
          col("P").cast(DoubleType).as("p_price"))
        .orderBy("o_orderpriority")
    },
    oracle = s"""SELECT o_orderpriority,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS f_price,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS o_price,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS p_price
         | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)

  gate("q_unpivot")((s, dir) => {
      // UNPIVOT/melt: wide per-status metrics back to tall (status, metric, value)
      T(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast(DoubleType).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .unpivot(Array(col("o_orderstatus")), Array(col("n_orders"), col("sum_price")),
          "metric", "value")
        .orderBy("o_orderstatus", "metric")
    },
    oracle = s"""WITH w AS (
         | SELECT o_orderstatus, CAST(COUNT(*) AS DOUBLE) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY o_orderstatus)
         |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
         |UNION ALL SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM w
         |ORDER BY o_orderstatus, metric""".stripMargin)

  gate("q_json_functions")((s, dir) => {
      // JSON path extraction + schema-driven parse over a JSON column (the
      // document-metadata sidecar shape of a training pipeline)
      val js = concat(lit("{\"lang\":\""), col("lang"), lit("\",\"n\":"), col("n_chars"),
        lit(",\"src\":\""), col("source"), lit("\"}"))
      val schema = "lang STRING, n BIGINT, src STRING"
      T(s, dir, "documents")
        .select(col("doc_id"), js.as("js"))
        .select(col("doc_id"),
          get_json_object(col("js"), "$.lang").as("j_lang"),
          get_json_object(col("js"), "$.n").cast(LongType).as("j_n"),
          from_json(col("js"), schema, Map.empty[String, String]).getField("src").as("j_src"))
        .orderBy("doc_id")
    },
    oracle = """WITH j AS (
        |  SELECT doc_id,
        |   '{"lang":"' || lang || '","n":' || n_chars || ',"src":"' || source || '"}' AS js
        |  FROM documents)
        |SELECT doc_id,
        |  json_extract_string(js, '$.lang') AS j_lang,
        |  CAST(json_extract(js, '$.n') AS BIGINT) AS j_n,
        |  json_extract_string(js, '$.src') AS j_src
        |FROM j ORDER BY doc_id""".stripMargin)

  gate("events_funnel", Headline, Shared, Baseline)((s, dir) => {
      // ordered funnel: first view, first click AFTER that view, first
      // purchase AFTER that click — three chained per-user window minima
      // (one shuffle on user_id, reused by all three), then one count row
      val w  = Window.partitionBy("user_id")
      val e  = events(s, dir).select("user_id", "event_type", "us")
      val s3 = e
        .withColumn("v_us", min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("c_us", min(when(col("event_type") === "click" && col("us") > col("v_us"), col("us"))).over(w))
        .withColumn("p_us", min(when(col("event_type") === "purchase" && col("us") > col("c_us"), col("us"))).over(w))
      s3.groupBy("user_id")
        .agg(max(col("v_us")).as("v"), max(col("c_us")).as("c"), max(col("p_us")).as("p"))
        .agg(
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_purchase_full_funnel"))
    },
    oracle = """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        |         OVER (PARTITION BY user_id) AS v_us FROM e),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us > v_us THEN us END)
        |         OVER (PARTITION BY user_id) AS c_us FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > c_us THEN us END)
        |         OVER (PARTITION BY user_id) AS p_us FROM s2),
        |per AS (SELECT user_id, MAX(v_us) AS v, MAX(c_us) AS c, MAX(p_us) AS p
        |        FROM s3 GROUP BY user_id)
        |SELECT CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
        |  CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_full_funnel
        |FROM per""".stripMargin)

  gate("events_hourly")((s, dir) => {
      events(s, dir)
        .groupBy((col("us") - col("us") % lit(3600000000L)).as("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("hour_us", "event_type")
    },
    oracle = s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         | FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin)

  gate("events_sessionize", Headline, Shared, Baseline)((s, dir) => {
      val e  = events(s, dir).select("user_id", "event_id", "us")
      val w  = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gap = col("us") - lag(col("us"), 1).over(w)
      e.withColumn("is_new", when(gap.isNull || gap > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("first_us"), max(col("us")).as("last_us"))
        .orderBy("user_id", "session_id")
    },
    oracle = """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events),
        |s AS (SELECT user_id, event_id, us,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        | FROM e)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(us) AS first_us, MAX(us) AS last_us
        | FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)
}
