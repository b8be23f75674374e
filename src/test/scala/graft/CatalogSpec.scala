package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Catalog model parse/validate, iterable decode, save round-trip
  * (reference: tests/test_cat.py, esp. the container-type round-trip
  * at :148-177). */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val descriptor: String =
    """{
      |  "esmcat_version": "0.1.0",
      |  "id": "cesm1-lens-style",
      |  "description": "test catalog",
      |  "attributes": [{"column_name": "experiment"}, {"column_name": "variable"}],
      |  "assets": {"column_name": "path", "format": "parquet"},
      |  "aggregation_control": {
      |    "variable_column_name": "variable",
      |    "groupby_attrs": ["component", "experiment"],
      |    "aggregations": [
      |      {"type": "join_new", "attribute_name": "member_id", "options": {}},
      |      {"type": "join_existing", "attribute_name": "time_range", "options": {"dim": "time"}},
      |      {"type": "union", "attribute_name": "variable", "options": {}}
      |    ]
      |  },
      |  "catalog_dict": [
      |    {"component": "ocn", "experiment": "20C", "variable": "SHF", "member_id": "1", "path": "p1"},
      |    {"component": "ocn", "experiment": "20C", "variable": "SST", "member_id": "1", "path": "p2"},
      |    {"component": "atm", "experiment": "CTRL", "variable": "FLNS", "member_id": "2", "path": "p3"}
      |  ]
      |}""".stripMargin

  test("descriptor parse") {
    val m = EsmCatalogModel.fromJson(descriptor)
    assert(m.id.contains("cesm1-lens-style"))
    assert(m.assets.columnName == "path" && m.assets.format.contains("parquet"))
    val ac = m.aggregationControl.get
    assert(ac.variableColumnName == "variable")
    assert(ac.groupbyAttrs == List("component", "experiment"))
    assert(ac.aggregations.map(_.aggType) ==
      List(AggregationType.JoinNew, AggregationType.JoinExisting, AggregationType.Union))
    assert(ac.aggregations(1).options("dim") == "time")
    assert(m.catalogDict.get.size == 3)
  }

  test("assets format xor format_column_name") {
    intercept[IllegalArgumentException](Assets("path", None, None))
    intercept[IllegalArgumentException](Assets("path", Some("zarr"), Some("fmt")))
  }

  test("catalog_file and catalog_dict mutually exclusive") {
    intercept[IllegalArgumentException] {
      EsmCatalogModel(esmcatVersion = "0.1.0",
        assets = Assets("path", Some("parquet")),
        catalogFile = Some("x.csv"), catalogDict = Some(Nil))
    }
  }

  test("json round-trip") {
    val m  = EsmCatalogModel.fromJson(descriptor)
    val m2 = EsmCatalogModel.fromJson(EsmCatalogModel.toJson(m))
    assert(m2 == m)
  }

  test("iterable decode: tuple/list/set literals incl. trailing comma") {
    val df = Seq(
      "('SHF', 'REGION_MASK', 'ANGLE')",
      "['a', 'b']",
      "{'x'}",
      "('single',)",
    ).toDF("v")
    val out = df.select(CatalogReader.decodeIterable(col("v")).as("v")).as[Seq[String]].collect()
    assert(out(0) == Seq("SHF", "REGION_MASK", "ANGLE"))
    assert(out(1) == Seq("a", "b"))
    assert(out(2) == Seq("x"))
    assert(out(3) == Seq("single"))
  }

  test("probe detects container types from first row") {
    val df = Seq(("('a', 'b')", "['x']", "{'s'}", "plain"))
      .toDF("tup", "lst", "st", "scalar")
    val m = CatalogReader.probeIterableColumns(df)
    assert(m == Map(
      "tup" -> CatalogReader.ContainerType.TupleT,
      "lst" -> CatalogReader.ContainerType.ListT,
      "st"  -> CatalogReader.ContainerType.SetT))
  }

  test("save restores container literals; csv round-trips") {
    val dir = Files.createTempDirectory("graft_cat_rt").toString
    val df = Seq(
      ("ocn", Seq("SHF", "SST")),
      ("atm", Seq("FLNS")),
    ).toDF("component", "variable")
    val model = EsmCatalogModel(esmcatVersion = "0.1.0", id = Some("rt"),
      assets = Assets("path", Some("parquet")), catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set("variable"),
      Map("variable" -> CatalogReader.ContainerType.TupleT))
    val jsonPath = CatalogWriter.save(cat, "rt", dir, "file")
    // raw csv contains python tuple literals, incl. single-element trailing comma
    val csv = new String(Files.readAllBytes(Paths.get(s"$dir/rt.csv")), "UTF-8")
    assert(csv.contains("('SHF', 'SST')"))
    assert(csv.contains("('FLNS',)"))
    // reload decodes back to arrays with tuple dtype
    val (m2, table) = CatalogReader.load(spark, jsonPath)
    assert(m2.catalogFile.contains("rt.csv"))
    assert(table.columnsWithIterables == Set("variable"))
    assert(table.iterableDtypes("variable") == CatalogReader.ContainerType.TupleT)
    val back = table.df.orderBy("component").as[(String, Seq[String])].collect()
    assert(back.toSeq == Seq(("atm", Seq("FLNS")), ("ocn", Seq("SHF", "SST"))))
  }

  test("fromDict keeps non-string scalars and fills missing keys with null") {
    val df = CatalogReader.fromDict(spark, Seq(
      Map("domain" -> "d1", "scode" -> 482L),
      Map("domain" -> "d2"),
    ))
    val rows = df.orderBy("domain").collect()
    assert(rows(0).getAs[Long]("scode") == 482L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("scode")))
  }

  test("grouping: keys, all-null prune, mixed-null error") {
    val df = Seq(
      ("ocn", "20C", null.asInstanceOf[String], "SHF"),
      ("ocn", "20C", null.asInstanceOf[String], "SST"),
      ("atm", "CTRL", null.asInstanceOf[String], "FLNS"),
    ).toDF("component", "experiment", "dcpp", "variable")
    val model = EsmCatalogModel(esmcatVersion = "0.1.0",
      assets = Assets("path", Some("parquet")),
      aggregationControl = Some(AggregationControl("variable",
        List("component", "experiment", "dcpp"), Nil)),
      catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set.empty, Map.empty)
    assert(cat.keys == Seq("atm.CTRL", "ocn.20C"))
    assert(cat.length == 2)

    val mixed = df.withColumn("dcpp",
      when(col("component") === "ocn", lit("x")).otherwise(lit(null)))
    val cat2 = new EsmCatalog(spark, model, mixed, Set.empty, Map.empty)
    intercept[IllegalArgumentException](cat2.keys)
  }

  test("keys lists a key once when two groups join to the same string (cat.py:378-385)") {
    // ("a.b", "c") and ("a", "b.c") are two groups but one key with sep "."
    val df = Seq(("a.b", "c", "p1"), ("a", "b.c", "p2"), ("x", "y", "p3"))
      .toDF("component", "experiment", "path")
    val model = EsmCatalogModel(esmcatVersion = "0.1.0",
      assets = Assets("path", Some("parquet")),
      aggregationControl = Some(AggregationControl("variable", List("component", "experiment"), Nil)),
      catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set.empty, Map.empty)
    assert(cat.keys == Seq("a.b.c", "x.y"))
    assert(cat.length == cat.keys.size)
    assert(cat.reprStats == "<catalog catalog with 2 dataset(s) from 3 asset(s)>")
  }

  test("unique / nunique flatten iterable columns") {
    val df = Seq(
      ("ocn", Seq("SHF", "SST")),
      ("atm", Seq("SHF", "FLNS")),
    ).toDF("component", "variable")
    val model = EsmCatalogModel(esmcatVersion = "0.1.0",
      assets = Assets("path", Some("parquet")),
      aggregationControl = Some(AggregationControl("variable", List("component"), Nil)),
      catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set("variable"),
      Map("variable" -> CatalogReader.ContainerType.ListT))
    val u = cat.uniqueValues
    assert(u("component").toSet == Set("ocn", "atm"))
    assert(u("variable").toSet == Set("SHF", "SST", "FLNS"))
    assert(u.contains("derived_variable"))
    val n = cat.nunique.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("component" -> 2L, "variable" -> 3L))
  }

  test("reprHtml / interactiveHtml render the stats table and exploded rows (core.py:240-267,362-369)") {
    val df = Seq(
      ("ocn", Seq("SHF", "SST")),
      ("atm", Seq("SHF", "FLNS")),
    ).toDF("component", "variable")
    val model = EsmCatalogModel(esmcatVersion = "0.1.0", id = Some("<my&cat>"),
      assets = Assets("path", Some("parquet")),
      aggregationControl = Some(AggregationControl("variable", List("component"), Nil)),
      catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, df = df, model = model,
      columnsWithIterables = Set("variable"),
      iterableDtypes = Map("variable" -> CatalogReader.ContainerType.ListT))
    val html = cat.reprHtml
    // header mirrors reprStats counts; id is escaped, not injected
    assert(html.contains("&lt;my&amp;cat&gt; catalog with 2 dataset(s) from 2 asset(s)"), html)
    assert(html.contains("<tr><th>component</th><td>2</td></tr>"), html)
    assert(html.contains("<tr><th>variable</th><td>3</td></tr>"), html)
    // interactive view explodes iterable cells into real rows (4, not 2)
    val table = cat.interactiveHtml()
    assert("<tr><td>".r.findAllIn(table).size == 4, table)
    assert(table.contains("<td>FLNS</td>"), table)
    // maxRows bounds the driver materialization
    assert("<tr><td>".r.findAllIn(cat.interactiveHtml(maxRows = 1)).size == 1)
  }

  test("dict catalogs register array columns as iterables; mixed numerics widen") {
    val records = Seq(
      Map[String, Any]("variable" -> Seq("SHF", "SST"), "lev" -> 1, "path" -> "a.parquet"),
      Map[String, Any]("variable" -> Seq("FLNS"), "lev" -> 1.5, "path" -> "b.parquet"))
    val table = CatalogReader.loadTable(spark,
      EsmCatalogModel(esmcatVersion = "0.2.0",
        assets = Assets("path", Some("parquet")), catalogDict = Some(records.toList)),
      jsonPath = None)
    // membership search must compile array_contains, not equality
    assert(table.columnsWithIterables == Set("variable"))
    val hits = graft.search.QueryCompiler.search(table.df,
      Map("variable" -> Seq("SST")), table.columnsWithIterables)
    assert(hits.count() == 1)
    // lev mixes int and float → widened to double, not a CCE at eval
    assert(table.df.schema("lev").dataType == org.apache.spark.sql.types.DoubleType)
    assert(table.df.select("lev").collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 1.5))
  }

  test("save(singleFile = false) writes a loadable partitioned catalog") {
    val df = Seq(("a", "p1.parquet"), ("b", "p2.parquet")).toDF("variable", "path")
      .repartition(2)
    val model = EsmCatalogModel(esmcatVersion = "0.2.0", id = Some("multi"),
      assets = Assets("path", Some("parquet")), catalogDict = Some(Nil))
    val cat = new EsmCatalog(spark, model, df, Set.empty, Map.empty)
    val dir = java.nio.file.Files.createTempDirectory("graft_multisave").toString
    val json = CatalogWriter.save(cat, "multi", dir, "file", singleFile = false)
    // the descriptor's catalog_file must actually exist (as a directory of
    // part files) and reload to the same rows
    val reloaded = EsmCatalog.open(spark, json)
    assert(reloaded.df.count() == 2)
    assert(reloaded.df.select("variable").collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))
  }

  test("search with an empty value list matches nothing (reference OR-fold)") {
    val df = Seq(("CTRL", "a"), ("20C", "b")).toDF("experiment", "path")
    assert(graft.search.QueryCompiler.search(df,
      Map("experiment" -> Seq.empty), Set.empty).count() == 0)
    // and combined with a non-empty key it still annihilates (AND semantics)
    assert(graft.search.QueryCompiler.search(df,
      Map("experiment" -> Seq("CTRL"), "path" -> Seq.empty), Set.empty).count() == 0)
  }

  test("keyTemplate joins groupby attrs, falls back to all columns (core.py:217-230)") {
    val df = Seq(("ocn", "20C", "p.parquet")).toDF("component", "experiment", "path")
    val withAgg = new EsmCatalog(spark,
      EsmCatalogModel(esmcatVersion = "0.1.0", assets = Assets("path", Some("parquet")),
        aggregationControl = Some(AggregationControl("v", List("component", "experiment"), Nil)),
        catalogDict = Some(Nil)),
      df, Set.empty, Map.empty)
    assert(withAgg.keyTemplate == "component.experiment")
    val noAgg = new EsmCatalog(spark,
      EsmCatalogModel(esmcatVersion = "0.1.0", assets = Assets("path", Some("parquet")),
        catalogDict = Some(Nil)),
      df, Set.empty, Map.empty)
    assert(noAgg.keyTemplate == "component.experiment.path")
  }

  test("datasets caches the last toDatasetDict result (core.py:152,761)") {
    val json = graft.harness.PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val cat  = EsmCatalog.open(spark, json)
    assert(cat.datasets.isEmpty)
    val dsets = cat.toDatasetDict()
    assert(dsets.nonEmpty && cat.datasets.keySet == dsets.keySet)
  }

  test("storage_options reach the relation's filesystem configuration (cat.py:238-280)") {
    // Spark merges reader options into the relation-scoped Hadoop conf
    // (newHadoopConfWithOptions). Prove the plumb-through reaches the FS
    // layer: a bogus fs.file.impl must break the read of a local csv asset
    // table, and only for the call that passed it.
    val dir = java.nio.file.Files.createTempDirectory("graft_sopts")
    val csv = dir.resolve("cat.csv")
    java.nio.file.Files.write(csv, "a,b\n1,x\n".getBytes("UTF-8"))
    val ok = graft.catalog.CatalogReader.readAssetTable(spark, csv.toString)
    assert(ok.count() == 1)
    val e = intercept[Throwable] {
      graft.catalog.CatalogReader
        .readAssetTable(spark, csv.toString,
          storageOptions = Map(
            "fs.file.impl" -> "no.such.FileSystemImpl",
            // the FileSystem cache is keyed by scheme, not conf — bypass it
            // so the bogus impl is actually instantiated for this call
            "fs.file.impl.disable.cache" -> "true"))
        .count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(e).exists(_.contains("no.such.FileSystemImpl")), chain(e).mkString(" | "))
    // clean read again: the bogus conf was call-scoped, nothing global leaked
    assert(graft.catalog.CatalogReader.readAssetTable(spark, csv.toString).count() == 1)
    java.nio.file.Files.deleteIfExists(csv)
    java.nio.file.Files.deleteIfExists(dir)
  }

  test("search() carries storageOptions into the derived catalog") {
    val m = EsmCatalogModel.fromJson(descriptor)
    val table = CatalogReader.loadTable(spark, m, None)
    val opts = Map("fs.s3a.endpoint" -> "http://example:9000")
    val withOpts = new graft.catalog.EsmCatalog(spark, m, table.df,
      table.columnsWithIterables, table.iterableDtypes,
      storageOptions = opts)
    val searched = withOpts.search(Map("component" -> "ocn"))
    assert(searched.df.count() == 2)
    assert(searched.storageOptions == opts) // credentials survive open -> search -> load
  }
}
