package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CatalogReader, EsmCatalogModel}
import graft.harness.PipelineDemo

/** The `format("esmcat")` surface: descriptor + asset index as one
  * relation, iterable columns decoded — the table `EsmCatalog.open` holds,
  * so every answer here is checked against `open`'s. */
class EsmCatalogSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The FIXTURES.md §1.2 `multi-variable-catalog` shape
    * ([[CatalogFixtures.multiVariable]]). */
  private lazy val multiVariableCatalog: String = CatalogFixtures.multiVariable(
    java.nio.file.Files.createTempDirectory("graft_multivar")).toString

  /** An inline `catalog_dict` catalog shaped like intake-esm's
    * `noaa-pathfinder-opendap` (FIXTURES.md §1.5): string columns, an
    * integer `scode`, http paths, `format=opendap`. */
  private lazy val opendapCatalog: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_opendap")
    val rows = Seq(
      ("AVHRR_OI", "sst", "1981-09-01", "1981-09-30", 482),
      ("AVHRR_OI", "sst", "1981-10-01", "1981-10-31", 482),
      ("AVHRR_OI", "ice", "1981-09-01", "1981-09-30", 7),
      ("NOAA_ASC", "sst", "1982-01-01", "1982-01-31", 1023),
      ("NOAA_ASC", "ice", "1982-01-01", "1982-01-31", 36)).zipWithIndex.map {
        case ((dom, v, first, last, scode), i) =>
          s"""{"domain": "$dom", "variable": "$v", "first_swap": "$first",
             |"last_swap": "$last", "scode": $scode,
             |"path": "https://opendap.example.org/pathfinder/$dom/$v/$i.nc"}""".stripMargin
      }
    val json = dir.resolve("noaa-pathfinder-opendap.json")
    java.nio.file.Files.writeString(json,
      s"""{"esmcat_version": "0.1.0", "id": "noaa-pathfinder-opendap",
         |"attributes": [],
         |"assets": {"column_name": "path", "format": "opendap"},
         |"aggregation_control": {"variable_column_name": "variable",
         |  "groupby_attrs": ["domain"],
         |  "aggregations": [{"type": "union", "attribute_name": "variable"}]},
         |"catalog_dict": [${rows.mkString(",\n")}]}""".stripMargin)
    json.toString
  }

  /** Descriptors both entry points must read alike: the demo catalog `demo`; a
    * csv whose iterable column holds a cell that is not JSON after the
    * python-literal normalization (`[p, q]`, which decodes to NULL); a dict
    * with a null list element; the demo table as a parquet `catalog_file`;
    * and the demo descriptor as a `file:` URI. */
  private def sameTableInputs(demo: String): Seq[(String, String)] = {
    val dir  = Files.createTempDirectory("graft_esmcat_inputs")
    def descriptor(name: String, table: String): String = {
      val json = dir.resolve(s"$name.json")
      Files.writeString(json,
        s"""{"esmcat_version": "0.2.0", "id": "$name",
           |"assets": {"column_name": "path", "format": "parquet"},
           |$table}""".stripMargin)
      json.toString
    }
    Files.writeString(dir.resolve("nonjson.csv"), "path,realm\na,\"['atmos']\"\nb,\"[p, q]\"\n")
    val demoModel = EsmCatalogModel.fromJson(Files.readString(Paths.get(demo)))
    val parquet   = dir.resolve("demo.parquet").toString
    CatalogReader.readAssetTable(spark,
      CatalogReader.resolveCatalogFile(demo, demoModel.catalogFile.get)).write.parquet(parquet)
    val demoParquet = dir.resolve("demo-parquet.json")
    Files.writeString(demoParquet,
      EsmCatalogModel.toJson(demoModel.copy(catalogFile = Some(parquet))))
    Seq(
      "demo catalog"        -> demo,
      "csv cell [p, q]"     -> descriptor("nonjson", """"catalog_file": "nonjson.csv""""),
      "dict cell [x, null]" -> descriptor("nulls",
        """"catalog_dict": [{"path": "a", "v": ["x", null]}, {"path": "b", "v": ["y"]}]"""),
      "parquet catalog_file" -> demoParquet.toString,
      "file: URI"           -> Paths.get(demo).toUri.toString)
  }

  test("format(esmcat) reads a csv-backed catalog, same rows as EsmCatalog.open") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    for ((name, input) <- sameTableInputs(json)) {
      val esmcat = spark.read.format("esmcat").load(input)
      val api    = graft.catalog.EsmCatalog.open(spark, input).df
      assert(esmcat.schema == api.schema, name)
      assert(esmcat.count() == api.count(), name)
      assert(esmcat.exceptAll(api).isEmpty && api.exceptAll(esmcat).isEmpty, name)
    }
  }

  test("format(esmcat) decodes tuple-literal iterable columns (multi-variable-catalog shape)") {
    val df = spark.read.format("esmcat").load(multiVariableCatalog)
    import org.apache.spark.sql.types._
    assert(df.schema("variable").dataType == ArrayType(StringType))
    val first = df.orderBy("time_range").select("variable").limit(1)
      .collect()(0).getAs[scala.collection.Seq[String]](0)
    assert(first.contains("SHF") && first.contains("O2"))
    assert(df.count() == 5)
  }

  test("format(esmcat) sql-queryable with predicate over decoded arrays") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    spark.read.format("esmcat").load(json).createOrReplaceTempView("esm_assets")
    val n = spark.sql("SELECT COUNT(*) FROM esm_assets WHERE status = 'O' AND variable = 'totalprice'")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("format(esmcat) pushes scalar predicates into the reader, same answer as post-filter") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val df = spark.read.format("esmcat").load(json)
      .filter(col("status") === "O" && col("member").isNotNull)
    // the answer must equal the same filter over the materialized rows
    val unpushed = spark.read.format("esmcat").load(json).cache()
    try {
      val expected = unpushed.filter(col("status") === "O" && col("member").isNotNull)
      assert(df.count() == expected.count() && df.count() > 0)
      assert(df.exceptAll(expected).isEmpty && expected.exceptAll(df).isEmpty)
    } finally { unpushed.unpersist(); () }
  }

  test("format(esmcat) declines array-column predicates (residual-only, still correct)") {
    val df = spark.read.format("esmcat").load(multiVariableCatalog)
      .filter(array_contains(col("variable"), "SHF"))
    assert(df.count() > 0)
    val raw = graft.catalog.EsmCatalog.open(spark, multiVariableCatalog).df
    assert(df.count() == raw.filter(array_contains(col("variable"), "SHF")).count())
  }

  test("format(esmcat) pushes global count/min/max/count-distinct, same answers as raw rows") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val agg = spark.read.format("esmcat").load(json)
      .agg(count(lit(1)).as("n"), min("status").as("lo"), max("status").as("hi"),
        countDistinct("member").as("nd"))
    // ground truth from the ordinary (row-returning) API path
    val raw = graft.catalog.EsmCatalog.open(spark, json).df
    val expected = raw.agg(count(lit(1)), min("status"), max("status"), countDistinct("member")).head()
    assert(agg.head() == expected)
  }

  test("format(esmcat) pushes aggregates past HANDLED filters and through GROUP BY") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val base = spark.read.format("esmcat").load(json)
    val filtered = base.filter(col("status") === "O").agg(count(lit(1)).as("n"))
    val raw = graft.catalog.EsmCatalog.open(spark, json).df
    assert(filtered.head().getLong(0) == raw.filter(col("status") === "O").count())
    // grouped aggregation: one row per group
    val grouped = base.groupBy("status").agg(count(lit(1)).as("n"), max("member").as("m"))
    val got = grouped.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val want = raw.groupBy("status").agg(count(lit(1)), max("member"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == want && got.nonEmpty)
    // grouped + filtered: the filter applies before the fold
    val gf = base.filter(col("member").isNotNull).groupBy("status").agg(count(lit(1)).as("n"))
    val gotF = gf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantF = raw.filter(col("member").isNotNull).groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotF == wantF)
    // grouping by an ARRAY column
    val arrCat = spark.read.format("esmcat").load(multiVariableCatalog)
    val byArr = arrCat.groupBy("variable").agg(count(lit(1)).as("n"))
    assert(byArr.count() > 0)
  }

  test("format(esmcat) aggregate pushdown on a dict catalog incl. non-string scalars") {
    val agg = spark.read.format("esmcat").load(opendapCatalog)
      .agg(count(lit(1)).as("n"), min("scode").as("lo"), max("scode").as("hi"))
    val raw = graft.catalog.EsmCatalog.open(spark, opendapCatalog).df
    assert(agg.head() == raw.agg(count(lit(1)), min("scode"), max("scode")).head())
  }

  test("mixed int/float dict column widens to double; pushed min/max stays correct") {
    // the schema unifies Long+Double -> DoubleType (CatalogReader.fromDict),
    // so the aggregate and the row path see doubles and agree — no lexical
    // comparison, no CCE
    val dir  = java.nio.file.Files.createTempDirectory("graft_mixcat")
    val json = dir.resolve("mix.json")
    java.nio.file.Files.writeString(json,
      """{"esmcat_version": "0.2.0", "id": "mix",
        |"assets": {"column_name": "path", "format": "parquet"},
        |"catalog_dict": [{"path": "a", "v": 9}, {"path": "b", "v": 10.5}]}""".stripMargin)
    val df = spark.read.format("esmcat").load(json.toString)
    assert(df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    val agg = df.agg(min("v"), max("v"))
    assert(agg.head() == org.apache.spark.sql.Row(9.0, 10.5))
    // and the row path reads the same widened values
    assert(df.select("v").collect().map(_.getDouble(0)).sorted.toSeq == Seq(9.0, 10.5))
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("handled filters keep SQL three-valued logic: NOT/IN over NULLs drop rows") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_nullcat")
    val json = dir.resolve("nulls.json")
    java.nio.file.Files.writeString(json,
      """{"esmcat_version": "0.2.0", "id": "nulls",
        |"assets": {"column_name": "path", "format": "parquet"},
        |"catalog_dict": [{"path": "a", "m": "x"}, {"path": "b", "m": null},
        |                 {"path": "c", "m": "y"}]}""".stripMargin)
    val df  = spark.read.format("esmcat").load(json.toString)
    val raw = graft.catalog.EsmCatalog.open(spark, json.toString).df
    // NOT (m = 'x'): NULL m is UNKNOWN -> dropped; a two-valued evaluator
    // would keep row b.
    def paths(d: org.apache.spark.sql.DataFrame) =
      d.select("path").collect().map(_.getString(0)).toSet
    assert(paths(df.filter(!(col("m") === "x"))) == Set("c"))
    assert(paths(df.filter(!(col("m") === "x"))) == paths(raw.filter(!(col("m") === "x"))))
    assert(paths(df.filter(col("m").isin("x", "zz"))) == Set("a"))
    assert(paths(df.filter(col("m").isNull)) == Set("b"))
    // and an aggregate over the same filter agrees with raw
    val agg = df.filter(!(col("m") === "x")).agg(count(lit(1)).as("n"))
    assert(agg.head().getLong(0) == 1L)
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("pushed COUNT(DISTINCT) coerces to the widened type: 9 and 9.0 are ONE value") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_distcat")
    val json = dir.resolve("dist.json")
    java.nio.file.Files.writeString(json,
      """{"esmcat_version": "0.2.0", "id": "dist",
        |"assets": {"column_name": "path", "format": "parquet"},
        |"catalog_dict": [{"path": "a", "v": 9}, {"path": "b", "v": 9.0},
        |                 {"path": "c", "v": 10.5}]}""".stripMargin)
    val df  = spark.read.format("esmcat").load(json.toString)
    val agg = df.agg(countDistinct("v").as("nd"))
    assert(agg.head().getLong(0) == 2L) // {9.0, 10.5}, not {Integer(9), 9.0, 10.5}
    // open's table widens identically
    val raw = graft.catalog.EsmCatalog.open(spark, json.toString).df
    assert(raw.agg(countDistinct("v")).head().getLong(0) == 2L)
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("multi-file-saved catalog (directory catalog_file) loads via format(esmcat)") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val cat  = graft.catalog.EsmCatalog.open(spark, json)
    val dir  = java.nio.file.Files.createTempDirectory("graft_dircat").toString
    val saved = graft.catalog.CatalogWriter.save(cat, "dircat", dir, singleFile = false)
    // both paths read the part-file directory (one header per part file)
    val viaApi  = graft.catalog.EsmCatalog.open(spark, saved).df
    val viaDsv2 = spark.read.format("esmcat").load(saved)
    assert(viaDsv2.count() == cat.df.count() && viaDsv2.count() == viaApi.count())
    assert(viaDsv2.columns.sorted.toSeq == viaApi.columns.sorted.toSeq)
    assert(viaDsv2.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaDsv2).isEmpty)
  }

  test("dict column mixing arrays and scalars degrades to literal strings, both paths agree") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_mixarr")
    val json = dir.resolve("mixarr.json")
    java.nio.file.Files.writeString(json,
      """{"esmcat_version": "0.2.0", "id": "mixarr",
        |"assets": {"column_name": "path", "format": "parquet"},
        |"catalog_dict": [{"path": "a", "v": ["x", "y"]}, {"path": "b", "v": "z"}]}""".stripMargin)
    val api = graft.catalog.EsmCatalog.open(spark, json.toString).df
    assert(api.schema("v").dataType == org.apache.spark.sql.types.StringType)
    val apiVals = api.select("v").collect().map(_.getString(0)).toSet
    assert(apiVals == Set("['x', 'y']", "z")) // literal render, no CCE
    val dsv2 = spark.read.format("esmcat").load(json.toString)
    assert(dsv2.schema("v").dataType == org.apache.spark.sql.types.StringType)
    assert(dsv2.select("v").collect().map(_.getString(0)).toSet == apiVals)
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("a 0-byte catalog csv is refused by both entry points; a header-only csv is an empty catalog") {
    val dir   = Files.createTempDirectory("graft_emptycat")
    val empty = dir.resolve("empty.csv")
    Files.write(empty, Array.emptyByteArray)
    Files.writeString(dir.resolve("header.csv"), "path,variable\n")
    def descriptor(name: String, file: String): String = {
      val json = dir.resolve(s"$name.json")
      Files.writeString(json,
        s"""{"esmcat_version": "0.2.0", "id": "$name",
           |"assets": {"column_name": "path", "format": "parquet"},
           |"catalog_file": "$file"}""".stripMargin)
      json.toString
    }
    val zeroByte = descriptor("zero", "empty.csv")
    for (read <- Seq[String => Any](
        graft.catalog.EsmCatalog.open(spark, _),
        spark.read.format("esmcat").load(_))) {
      val e = intercept[IllegalArgumentException](read(zeroByte))
      assert(e.getMessage.contains("empty catalog table") &&
        e.getMessage.contains(empty.toString), e.getMessage)
    }
    val headerOnly = descriptor("header", "header.csv")
    val api    = graft.catalog.EsmCatalog.open(spark, headerOnly).df
    val esmcat = spark.read.format("esmcat").load(headerOnly)
    assert(api.columns.toSeq == Seq("path", "variable") && api.isEmpty)
    assert(esmcat.schema == api.schema && esmcat.isEmpty)
  }

  test("format(esmcat) prunes unprojected columns at the scan") {
    val json = PipelineDemo.ensureCatalog(spark, "/root/testdata/sf0.001")
    val df   = spark.read.format("esmcat").load(json).select("status", "member")
    // the scan's output attribute list is the pruned one
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    val cols = scan.output.map(_.name).toSet
    assert(cols == Set("status", "member"), scan.toString.take(800))
    assert(df.distinct().count() > 0)
  }

  test("format(esmcat) hands its options to the reader as storage options") {
    // a ';'-separated table reads as two columns only if `sep` reaches the
    // csv read, as it does through EsmCatalog.open's storageOptions
    val dir = Files.createTempDirectory("graft_esmcat_options")
    Files.writeString(dir.resolve("semi.csv"), "path;realm\na;atmos\nb;ocean\n")
    val json = dir.resolve("semi.json")
    Files.writeString(json,
      """{"esmcat_version": "0.2.0", "id": "semi",
        |"assets": {"column_name": "path", "format": "parquet"},
        |"catalog_file": "semi.csv"}""".stripMargin)
    val esmcat = spark.read.format("esmcat").option("sep", ";").load(json.toString)
    val api = graft.catalog.EsmCatalog.open(spark, json.toString,
      storageOptions = Map("sep" -> ";")).df
    assert(esmcat.columns.toSeq == Seq("path", "realm"), esmcat.columns.mkString(","))
    assert(esmcat.schema == api.schema)
    assert(esmcat.exceptAll(api).isEmpty && api.exceptAll(esmcat).isEmpty)
    assert(spark.read.format("esmcat").load(json.toString).columns.toSeq == Seq("path;realm"))
  }
}
