package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.derived.{DerivedVariable, DerivedVariableRegistry}

/** Catalog job census: how many Spark jobs the grouping calls run, counted
  * with a listener, and equivalence of the one-pass grouping with the
  * per-attr aggregate + `keysInfo.orderBy("key")` formulation it replaced.
  * The one-pass grouping serves declared groupby attrs only; catalogs that
  * group by every column keep the distributed formulation, and the census
  * pins that none of their calls but `keys` collects one row per asset.
  * A catalog opened under the driver-collect cap is a local relation: its
  * searches and group phase run no job, and every equivalence case runs on
  * a local twin of its table as well. */
class CatalogCensusSpec extends AnyFunSuite {
  import JobCensus.Census
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def census[A](body: => A): (A, Census) = JobCensus(spark)(body)

  private def isCountLike(site: String): Boolean =
    site.startsWith("isEmpty") || site.startsWith("count")

  /** The `collect` actions that bring one row per group to the driver —
    * one row per asset when the groups are the rows: a grouped aggregate
    * (`Keys [n]: […]` in the formatted plan) that no global aggregate
    * (`Keys: []`, as over a `countDistinct`'s partial groups) folds. */
  private def groupedCollects(c: Census): Seq[String] =
    c.actions.zip(c.plans).collect {
      case (site, plan) if site.startsWith("collect") && plan.contains("Keys [") &&
          !plan.contains("Keys: []") => site
    }

  private def withCap[A](max: Int)(body: => A): A = {
    val prev = spark.conf.getOption(DriverGuard.confKey)
    spark.conf.set(DriverGuard.confKey, max.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(DriverGuard.confKey, v)
      case None    => spark.conf.unset(DriverGuard.confKey)
    }
  }

  private def capMessage(max: Int): String =
    s"requirement failed: toDatasetDict(catalog records) exceeds $max rows " +
      s"(cap '${DriverGuard.confKey}' = $max); fix the catalog bound or raise the cap."

  private def model(groupby: List[String]): EsmCatalogModel =
    EsmCatalogModel(esmcatVersion = "0.1.0", id = Some("census"),
      assets = Assets("path", Some("parquet")),
      aggregationControl = Some(AggregationControl("variable", groupby, Nil)),
      catalogDict = Some(Nil))

  private def catalog(df: DataFrame, groupby: List[String], iterables: Set[String] = Set.empty,
                      registry: DerivedVariableRegistry = new DerivedVariableRegistry): EsmCatalog =
    new EsmCatalog(spark, model(groupby), df, iterables,
      iterables.map(_ -> CatalogReader.ContainerType.ListT).toMap, registry)

  /** Eight assets over two sources × two experiments × two variables; each
    * asset is a real one-row parquet directory, so toDatasetDict loads. */
  private lazy val assets: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_census").toString
    val rows = for (src <- Seq("GCM-1", "GCM-2"); exp <- Seq("historical", "ssp585");
                    v <- Seq("tasmax", "tasmin")) yield {
      val path = s"$dir/$src.$exp.$v"
      Seq((1850L, 1.0)).toDF("time", v).write.parquet(path)
      (src, exp, v, path)
    }
    // RDD-backed, like a scanned table: a filter over a local relation is
    // folded by the optimizer and would run no job at all
    val local = rows.toDF("source_id", "experiment_id", "variable", "path")
    spark.createDataFrame(local.rdd, local.schema)
  }

  private def fresh(): EsmCatalog = catalog(assets, List("source_id", "experiment_id"))

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The rows of `df` as a scanned table would hold them. */
  private def rddBacked(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  /** `cat` over a local relation of its table's rows, like a catalog opened
    * under the cap: its group pass and record collect run on the driver. */
  private def twinOf(cat: EsmCatalog): EsmCatalog = {
    val local = spark.createDataFrame(cat.df.collect().toSeq.asJava, cat.df.schema)
    assert(isLocal(local))
    new EsmCatalog(spark, cat.model, local, cat.columnsWithIterables, cat.iterableDtypes,
      cat.derivedRegistry)
  }

  private val tasRange = new DerivedVariableRegistry().register(DerivedVariable(
    "tas_range", Map("variable" -> Seq("tasmax", "tasmin")),
    df => df.withColumn("tas_range", col("tasmax") - col("tasmin"))))

  /** No aggregation control: every column is a group attr, one group per
    * asset. */
  private def ungrouped(): EsmCatalog =
    new EsmCatalog(spark, model(Nil).copy(aggregationControl = None), assets, Set.empty, Map.empty)

  test("a plain search(q).keys runs at most 2 jobs") {
    val cat = fresh()
    for (q <- Seq[Map[String, Any]](
           Map("experiment_id" -> "historical"),
           Map("source_id" -> Seq("GCM-1", "GCM-2"), "variable" -> "tasmax"),
           Map("source_id" -> "^GCM-[12]", "experiment_id" -> "ssp.*"))) {
      val (ks, c) = census(cat.search(q).keys)
      assert(ks.nonEmpty)
      assert(c.jobs <= 2 && c.actions.size == 1, s"$q: $c")
    }
  }

  test("one group pass serves keys, length, attrs, reprStats, containsKey and toDatasetDict") {
    val cat = fresh()
    val (_, pass) = census(cat.keys)
    assert(pass.jobs >= 1 && pass.jobs <= 2 && pass.actions.size == 1, pass)
    val (_, derived) = census {
      (cat.length, cat.effectiveGroupbyAttrs, cat.reprStats, cat.containsKey("GCM-1.historical"))
    }
    assert(derived == Census(0, Nil)(Nil))
    assert(cat.reprStats == "<census catalog with 4 dataset(s) from 8 asset(s)>")
    val (dsets, warm) = census(cat.toDatasetDict())
    assert(dsets.keySet == cat.keys.toSet)

    // on a fresh instance toDatasetDict runs the pass itself: exactly the
    // pass's jobs more, the pass's action first, and no isEmpty/count
    val (_, cold) = census(fresh().toDatasetDict())
    assert(cold.jobs == pass.jobs + warm.jobs, s"$cold vs $pass + $warm")
    assert(cold.actions == pass.actions ++ warm.actions, s"$cold vs $pass + $warm")
    assert(!cold.actions.exists(isCountLike), cold)
  }

  test("toDatasetDict: empty exit and record cap come from the pass") {
    val (empty, e0) = census(fresh().search(Map("source_id" -> "none")).toDatasetDict())
    assert(empty.isEmpty)
    assert(e0.actions.size == 1 && !e0.actions.exists(isCountLike), e0)

    withCap(7) {
      val (e, capped) = census(intercept[IllegalArgumentException](fresh().toDatasetDict()))
      assert(e.getMessage == capMessage(7))
      val (_, pass) = census(fresh().keys)
      assert(capped == pass, "the cap trips after the pass, before the records collect")
    }
  }

  test("ungrouped catalogs: the record cap trips before any row-sized collect") {
    withCap(7) {
      for (aggregate <- Seq(true, false)) {
        val (e, capped) = census(intercept[IllegalArgumentException](
          ungrouped().toDatasetDict(aggregate = aggregate)))
        assert(e.getMessage == capMessage(7))
        // the empty check, the global-aggregate prune, the capped count
        assert(capped.actions.map(_.takeWhile(_ != ' ')) == Seq("isEmpty", "collect", "count"),
          s"aggregate=$aggregate: $capped")
        assert(groupedCollects(capped).isEmpty, capped.plans)
      }
    }
  }

  test("ungrouped catalogs: only keys collects one row per asset") {
    val cat = ungrouped()
    val key = "GCM-1.historical.tasmax." + cat.df.filter(col("variable") === "tasmax")
      .filter(col("source_id") === "GCM-1" && col("experiment_id") === "historical")
      .select("path").as[String].head()
    val (_, calls) = census {
      (cat.effectiveGroupbyAttrs, cat.length, cat.reprStats, cat.reprHtml,
        cat.containsKey(key), cat.getEntry(key), cat.keysInfo.count())
    }
    assert(groupedCollects(calls).isEmpty, calls)
    assert(cat.reprStats == "<census catalog with 8 dataset(s) from 8 asset(s)>")
    val (ks, keys) = census(cat.keys)
    assert(ks.size == 8 && ks.contains(key))
    assert(groupedCollects(keys).size == 1, keys)
  }

  // ------------------------------------------------- equivalence with the
  // per-attr aggregate + keysInfo.orderBy("key") formulation

  /** The replaced formulation: one global non-null count per attr list
    * (all-null → pruned, mixed → error), the all-columns fallback, then the
    * keys of `keysInfo`'s projection, distinct, in Spark's `orderBy`. */
  private def replaced(cat: EsmCatalog): (Seq[String], Seq[String]) = {
    val df = cat.df
    def prune(cols: Seq[String]): Seq[String] =
      if (cols.isEmpty) cols
      else {
        val row = df.agg(count(lit(1)), cols.map(c => count(col(c))): _*).collect()(0)
        cols.zipWithIndex.filter { case (c, i) =>
          val n = row.getLong(i + 1)
          if (n == 0L) false
          else if (n < row.getLong(0))
            throw new IllegalArgumentException(
              s"The data in the $c column should either be all NaN or there should be no NaNs")
          else true
        }.map(_._1)
      }
    val declared = prune(cat.model.groupbyAttrs.filter(df.columns.contains))
    val attrs =
      if (declared.nonEmpty && declared.toSet != df.columns.toSet) declared
      else prune(df.columns.toSeq)
    val keys = df.select(cat.keyColumn(attrs).as("key")).distinct().orderBy("key")
      .collect().map(_.getString(0)).toSeq
    (attrs, keys)
  }

  /** `cat` (over a distributed plan) and `twin` (the same catalog, or the
    * same search, over a local relation of the table) both answer what the
    * replaced formulation answers for `cat`, and print the same reprStats. */
  private def assertSame(cat: EsmCatalog, twin: => EsmCatalog): Unit = {
    assert(!isLocal(cat.df))
    val (attrs, keys) = replaced(cat)
    for (c <- Seq(cat, twin)) {
      assert(c.effectiveGroupbyAttrs == attrs)
      assert(c.keys == keys)
      assert(c.length == keys.size.toLong)
      assert(c.keysInfo.orderBy("key").select("key").collect().map(_.getString(0)).toSeq.distinct
        == keys)
      assert(c.reprStats == cat.reprStats)
    }
  }

  private def assertSame(cat: EsmCatalog): Unit = assertSame(cat, twinOf(cat))

  private val nullStr = lit(null).cast(StringType)

  test("equivalence: an all-null attr is pruned") {
    val cat = catalog(assets.withColumn("dcpp", nullStr),
      List("source_id", "dcpp", "experiment_id"))
    assertSame(cat)
    assert(cat.effectiveGroupbyAttrs == Seq("source_id", "experiment_id"))
  }

  test("equivalence: a mixed-null attr raises the same error") {
    val cat = catalog(assets.withColumn("dcpp",
      when(col("source_id") === "GCM-1", lit("x")).otherwise(nullStr)),
      List("source_id", "dcpp", "experiment_id"))
    val want = intercept[IllegalArgumentException](replaced(cat)).getMessage
    assert(intercept[IllegalArgumentException](cat.keys).getMessage == want)
    assert(intercept[IllegalArgumentException](twinOf(cat).keys).getMessage == want)
    assert(want == "The data in the dcpp column should either be all NaN or there should be no NaNs")
  }

  test("equivalence: fallback to all columns, array column cast to string") {
    val withRealm = assets.withColumn("realm",
      when(col("variable") === "tasmax", array(lit("atmos"))).otherwise(array(lit("atmos"), lit("land"))))
    // declared attrs all-null → empty after pruning
    val pruned = catalog(withRealm.withColumn("dcpp", nullStr), List("dcpp"), Set("realm"))
    assertSame(pruned)
    assert(pruned.effectiveGroupbyAttrs == Seq("source_id", "experiment_id", "variable", "path", "realm"))
    assert(pruned.keys.exists(_.endsWith(".[atmos, land]")), pruned.keys)
    // declared attrs are every column
    assertSame(catalog(withRealm, withRealm.columns.toList.reverse, Set("realm")))
    // declared attrs are every column, one of them all-null: the pruned
    // declared attrs, in declared order, not the fallback
    val dcpp = withRealm.withColumn("dcpp", nullStr)
    val everyButNull = catalog(dcpp, dcpp.columns.toList.reverse, Set("realm"))
    assertSame(everyButNull)
    assert(everyButNull.effectiveGroupbyAttrs == withRealm.columns.toSeq.reverse)
    // no aggregation control at all
    assertSame(new EsmCatalog(spark, model(Nil).copy(aggregationControl = None), withRealm,
      Set("realm"), Map("realm" -> CatalogReader.ContainerType.ListT)))
  }

  test("equivalence: an empty search result") {
    val q     = Map[String, Any]("source_id" -> "nope")
    val empty = fresh().search(q)
    assertSame(empty, twinOf(fresh()).search(q))
    assert(empty.keys.isEmpty && empty.length == 0L)
    assert(empty.reprStats == "<census catalog with 0 dataset(s) from 0 asset(s)>")
  }

  test("equivalence: typed catalog_dict columns (Long/Double)") {
    val dict = CatalogReader.fromDict(spark, Seq(
      Map("scode" -> 482L, "lev" -> 1.5, "variable" -> "a", "path" -> "p1"),
      Map("scode" -> 482L, "lev" -> 2.0, "variable" -> "b", "path" -> "p2"),
      Map("scode" -> 7L, "lev" -> 1.5, "variable" -> "c", "path" -> "p3")))
    assert(isLocal(dict)) // the records are on the driver already
    val cat = catalog(rddBacked(dict), List("scode", "lev"))
    assertSame(cat)
    assert(cat.keys == Seq("482.1.5", "482.2.0", "7.1.5"))
  }

  test("equivalence: derived-variable and require_all_on searches") {
    val cat  = catalog(assets, List("source_id", "experiment_id"), registry = tasRange)
    val twin = twinOf(cat)
    val dq   = Map[String, Any]("variable" -> "tas_range", "source_id" -> "GCM-2")
    val derived = cat.search(dq)
    assertSame(derived, twin.search(dq))
    assert(derived.keys == Seq("GCM-2.historical", "GCM-2.ssp585"))
    val rq  = Map[String, Any]("experiment_id" -> Seq("historical", "ssp585"), "variable" -> "tasmin")
    val rao = cat.search(rq, requireAllOn = Some(Seq("source_id")))
    assertSame(rao, twin.search(rq, requireAllOn = Some(Seq("source_id"))))
    assert(rao.length == 4L)
  }

  test("equivalence: keys sort in UTF-8 byte order, not UTF-16") {
    // U+FF21 < U+1F600 in UTF-8 (EF.. < F0..); UTF-16 puts the surrogate first
    val df = Seq("😀", "Ａ", "z", "é").map(s => (s, s"p$s")).toDF("source_id", "path")
    val cat = catalog(rddBacked(df), List("source_id"))
    assertSame(cat)
    assert(cat.keys == Seq("z", "é", "Ａ", "😀"))
    assert(cat.keys != cat.keys.sorted)
  }

  test("equivalence: toDatasetDict keys and per-key records, local twin and distributed table") {
    for (aggregate <- Seq(true, false)) {
      val cat  = fresh()
      val twin = twinOf(cat)
      assert(twin.toDatasetDict(aggregate = aggregate).keySet ==
        cat.toDatasetDict(aggregate = aggregate).keySet)
      def records(c: EsmCatalog): Map[String, Set[Map[String, Any]]] = {
        val attrs = if (aggregate) c.effectiveGroupbyAttrs else c.df.columns.toSeq
        c.groupRecords(attrs).map { case (k, rs) => k -> rs.toSet }.toMap
      }
      val want = records(cat)
      assert(want.size == (if (aggregate) 4 else 8) && want.values.map(_.size).sum == 8)
      assert(records(twin) == want, s"aggregate=$aggregate")
    }
  }

  // ------------------------------------------ a catalog opened under the cap

  /** [[assets]] as a CSV catalog on disk, opened with [[tasRange]]. */
  private lazy val csvCatalog: String = {
    val dir  = java.nio.file.Files.createTempDirectory("graft_census_csv")
    val rows = assets.select("source_id", "experiment_id", "variable", "path")
      .as[(String, String, String, String)].collect().toSeq
    CatalogFixtures.gcmAssets(dir, rows).toString
  }

  private val queries = Seq[Map[String, Any]](
    Map("experiment_id" -> "historical"),
    Map("source_id" -> Seq("GCM-1", "GCM-2"), "realm" -> "land"),
    Map("source_id" -> "^GCM-[12]", "experiment_id" -> "ssp.*"))

  test("a catalog under the cap lives on the driver: searches and the group phase run no job") {
    val json        = csvCatalog // written outside the census
    val (cat, open) = census(EsmCatalog.open(spark, json, tasRange))
    assert(open.jobs <= 2, open)
    assert(isLocal(cat.df) && cat.columnsWithIterables == Set("realm"))
    for (q <- queries) {
      val (ks, c) = census(cat.search(q).keys)
      assert(ks.nonEmpty && c.jobs == 0, s"$q: $c")
    }
    // the dependency search's emptiness check of a derived variable
    val (derived, dc) = census(cat.search(Map("variable" -> "tas_range", "source_id" -> "GCM-2")))
    assert(dc.jobs == 0, dc)
    assert(derived.keys == Seq("GCM-2.historical", "GCM-2.ssp585"))
    // the group phase runs no SQL action: every job left opens an asset
    // (one parquet footer read per asset at most)
    val (dsets, load) = census(cat.search(Map("source_id" -> "GCM-1")).toDatasetDict())
    assert(dsets.keySet == Set("GCM-1.historical", "GCM-1.ssp585"))
    assert(load.actions.isEmpty && load.jobs <= 4, load)
  }

  test("format(esmcat) reads the table once, at load, in open's jobs") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_census_esmcat")
    val rows = assets.select("source_id", "experiment_id", "variable", "path")
      .as[(String, String, String, String)].collect().toSeq
    val json = CatalogFixtures.gcmAssets(dir, rows).toString
    val (_, open)    = census(EsmCatalog.open(spark, json))
    val (df, loaded) = census(spark.read.format("esmcat").load(json))
    assert(loaded.jobs <= 2 && loaded.jobs == open.jobs, s"$loaded vs $open")
    // later actions scan the rows held at load, not the file
    java.nio.file.Files.delete(dir.resolve("gcm-assets.csv"))
    assert(df.count() == rows.size)
    assert(df.filter(col("experiment_id") === "historical").count() == rows.size / 2)
  }

  test("a catalog over the cap keeps the lazy scan and its distributed search") {
    val held = EsmCatalog.open(spark, csvCatalog, tasRange)
    withCap(7) {
      val cat = EsmCatalog.open(spark, csvCatalog, tasRange)
      assert(!isLocal(cat.df))
      // the driver-side decode gives the lazy scan's rows and schema
      assert(cat.df.schema == held.df.schema && cat.columnsWithIterables == Set("realm"))
      assert(cat.df.collect().toSet == held.df.collect().toSet)
      for (q <- queries) {
        val (ks, c) = census(cat.search(q).keys)
        assert(ks.nonEmpty, q)
        assert(c.jobs >= 1 && c.jobs <= 2 && c.actions.size == 1, s"$q: $c")
      }
    }
  }
}
