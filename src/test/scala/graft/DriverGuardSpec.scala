package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.DriverGuard

class DriverGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withCap[A](n: Int)(body: => A): A = withCapConf(n.toString)(body)

  private def withCapConf[A](value: String)(body: => A): A = {
    val prev = spark.conf.getOption(DriverGuard.confKey)
    spark.conf.set(DriverGuard.confKey, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(DriverGuard.confKey, v)
      case None    => spark.conf.unset(DriverGuard.confKey)
    }
  }

  test("boundedCollect returns everything under the cap") {
    import spark.implicits._
    val df = (1 to 10).toDF("x")
    withCap(10) {
      assert(DriverGuard.boundedCollect(df, "test").length == 10)
    }
  }

  test("boundedCollect fails fast, naming the cap conf, when over the cap") {
    import spark.implicits._
    val df = (1 to 50).toDF("x")
    val e = intercept[IllegalArgumentException] {
      withCap(10)(DriverGuard.boundedCollect(df, "getEntry(key='k')"))
    }
    assert(e.getMessage.contains(DriverGuard.confKey), e.getMessage)
    assert(e.getMessage.contains("getEntry(key='k')"), e.getMessage)
  }

  test("assertBounded trips on row volume without collecting") {
    import spark.implicits._
    val df = (1 to 50).toDF("x")
    withCap(100)(DriverGuard.assertBounded(df, "ok")) // under cap: no-op
    val e = intercept[IllegalArgumentException] {
      withCap(10)(DriverGuard.assertBounded(df, "toDatasetDict(catalog records)"))
    }
    assert(e.getMessage.contains("toDatasetDict(catalog records)"), e.getMessage)
  }

  test("dict-save collect goes through the guard") {
    import spark.implicits._
    import graft.catalog._
    val df = (1 to 40).map(i => (s"a$i", s"p$i.parquet")).toDF("variable", "path")
    val model = EsmCatalogModel(
      esmcatVersion = "0.2.0", id = Some("guard_test"),
      assets = Assets(columnName = "path", format = Some("parquet")),
      aggregationControl = Some(AggregationControl("variable", List("variable"), Nil)),
      catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set.empty, Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("graft_guard").toString
    val e = intercept[IllegalArgumentException] {
      withCap(10)(CatalogWriter.save(cat, "guard_test", dir, catalogType = "dict"))
    }
    assert(e.getMessage.contains("catalogType=dict"), e.getMessage)
    // and under a sufficient cap the same save succeeds
    withCap(1000)(CatalogWriter.save(cat, "guard_test", dir, catalogType = "dict"))
  }

  /** A two-asset CSV catalog; the assets are never opened. */
  private lazy val twoAssetCatalog: String = CatalogFixtures.gcmAssets(
    java.nio.file.Files.createTempDirectory("graft_guard_cat"),
    Seq(("GCM-1", "historical", "tas", "/nowhere/a"), ("GCM-1", "ssp585", "tas", "/nowhere/b"))
  ).toString

  test("Int.MaxValue means no cap: the guards and a catalog open run") {
    import spark.implicits._
    val df = (1 to 50).toDF("x")
    withCap(Int.MaxValue) {
      assert(DriverGuard.boundedCollect(df, "test").length == 50)
      DriverGuard.assertBounded(df, "test")
      assert(graft.catalog.EsmCatalog.open(spark, twoAssetCatalog).df.count() == 2)
    }
  }

  test("a cap that is not a non-negative integer is refused, naming the conf") {
    import spark.implicits._
    val df = (1 to 5).toDF("x")
    for (bad <- Seq("-5", "1e5", "lots", "2147483648");
         call <- Seq[() => Any](() => DriverGuard.boundedCollect(df, "test"),
           () => graft.catalog.EsmCatalog.open(spark, twoAssetCatalog))) {
      val e = intercept[IllegalArgumentException](withCapConf(bad)(call()))
      assert(e.getMessage.contains(DriverGuard.confKey) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    withCap(0) { // zero is a cap: nothing may be held
      intercept[IllegalArgumentException](DriverGuard.boundedCollect(df, "test"))
      assert(DriverGuard.boundedCollect(df.limit(0), "test").isEmpty)
    }
  }
}
