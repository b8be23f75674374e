package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Aggregation, AggregationType, EsmDataSource}
import graft.sources.{CfDecode, KerchunkIndex, NetCDF3Index, Hdf5Index, ZarrDirectoryIndex}

/** A group's chunk-map assets decode through one chain: the group's frame
  * must equal the per-asset union it replaced — each asset opened and
  * decoded on its own, projected, preprocessed, stamped with its join_new
  * literals and merged by `combineByCoords` — in rows, in coordinate order
  * and in schema (nullability included). Every input is generated. */
class GroupChainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Coords = Seq("member_id", "variable", "coords", "chunk", "idx")

  /** A zarr v2 store of `tas(time, lat)` and `time(time)`, offset by `k`. */
  private def zarrStore(k: Int): String = {
    val dir = Files.createTempDirectory("graft_chain_zarr").toString
    val rows =
      (for (t <- 0L until 6L; l <- 0L until 3L)
        yield ("tas", Seq("time", "lat"), Seq(t, l), k * 100.0 + t * 10 + l - 25.0)) ++
        (0L until 6L).map(t => ("time", Seq("time"), Seq(t), (k * 6 + t).toDouble))
    graft.sources.ZarrWriter.write(rows.toDF("variable", "dims", "coords", "value"), dir,
      maxChunkBytes = 64)
    dir
  }

  private def b64(xs: Double*): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * xs.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putDouble)
    "base64:" + java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** A kerchunk v1 JSON index whose chunks are all inline. */
  private def kerchunkIndex(k: Int): String = {
    val f = Files.createTempFile("graft_chain_ref", ".json")
    val q = "\\\""
    Files.writeString(f,
      s"""{"version": 1, "refs": {
         |  ".zgroup": "{${q}zarr_format$q: 2}",
         |  "v/.zarray": "{${q}dtype$q: $q<f8$q, ${q}shape$q: [4], ${q}chunks$q: [2], ${q}compressor$q: null, ${q}filters$q: null, ${q}order$q: ${q}C$q}",
         |  "v/.zattrs": "{${q}_ARRAY_DIMENSIONS$q: [${q}x$q]}",
         |  "v/0": "${b64(k + 0.5, k + 1.5)}",
         |  "v/1": "${b64(k + 2.5, k - 3.5)}"
         |}}""".stripMargin)
    f.toString
  }

  /** The CF netCDF-3 fixture's bytes at a fresh path. */
  private def nc3(): String = {
    val f = Files.createTempFile("graft_chain_cf", ".nc")
    Files.write(f, graft.harness.Nc3CfFixture.bytes())
    f.toString
  }

  private def source(mode: String, assets: Seq[(String, String, String)],
                     requested: Seq[String] = Nil,
                     preprocess: Option[DataFrame => DataFrame] = None): EsmDataSource =
    EsmDataSource(
      key = "g",
      records = assets.map { case (path, fmt, member) =>
        Map[String, Any]("path" -> path, "member_id" -> member, "_data_format_" -> fmt) },
      pathColumn = "path",
      variableColumn = Some("variable_id"),
      aggregations = Seq(
        Aggregation(AggregationType.Union, "variable_id"),
        Aggregation(AggregationType.JoinNew, "member_id")),
      requestedVariables = requested,
      preprocess = preprocess,
      storageOptions = Map("graft.kerchunk.decode" -> mode))

  /** One asset decoded on its own, without a tag. */
  private def decodeAlone(path: String, fmt: String, mode: String): DataFrame = {
    val entries = fmt match {
      case "zarr" | "zarr3" => ZarrDirectoryIndex.read(spark, path)
      case "reference"      => KerchunkIndex.open(spark, path)
      case _ => NetCDF3Index.sniff(spark, path, Map.empty) match {
        case "cdf" => NetCDF3Index.read(spark, path)
        case _     => Hdf5Index.read(spark, path)
      }
    }
    val chunks = KerchunkIndex.materializeChunks(entries)
    val meta   = KerchunkIndex.arrayMeta(entries)
    mode match {
      case "typed"  => KerchunkIndex.decodeTyped(chunks, meta)
      case "coords" => KerchunkIndex.decodeCoords(chunks, meta, KerchunkIndex.attrDims(entries))
      case "cf" => CfDecode.decodeCf(chunks, meta, KerchunkIndex.attrDims(entries),
        CfDecode.cfAttrs(entries))
    }
  }

  /** The per-asset union: open → project → preprocess → join_new literal
    * per asset, then `combineByCoords`. */
  private def perAssetUnion(src: EsmDataSource, mode: String): DataFrame = {
    val frames = src.records.map { r =>
      var df = decodeAlone(r("path").toString, r("_data_format_").toString, mode)
      df = src.projectRequested(df, Coords)
      src.preprocess.foreach(p => df = p(df))
      Option(r("member_id")).foreach(v => df = df.withColumn("member_id", lit(v.toString)))
      df
    }
    src.combineByCoords(frames, Coords)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsUnion(src: EsmDataSource, mode: String): DataFrame = {
    val got  = src.load(spark, Coords)
    val want = perAssetUnion(src, mode)
    assert(got.schema == want.schema, s"\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    val g = rows(got)
    assert(g.nonEmpty)
    assert(g == rows(want))
    // sorted like the union: the coordinate key sequence matches in order
    val order = Coords.filter(want.columns.contains).map(col)
    assert(order.nonEmpty)
    assert(got.select(order: _*).collect().toSeq == want.select(order: _*).collect().toSeq)
    got
  }

  test("zarr v2 coords: the group chain equals the per-asset union") {
    val src = source("coords", Seq((zarrStore(0), "zarr", "r1"), (zarrStore(1), "zarr", "r2")))
    val got = assertSameAsUnion(src, "coords")
    assert(got.count() == 2 * (18 + 6))
    assert(got.filter(col("variable").contains("::")).isEmpty)
  }

  test("zarr v3 coords: the group chain equals the per-asset union") {
    val v3 = gates.CatalogScanGates.ensureZarrV3Fixture()
    assertSameAsUnion(source("coords",
      Seq((v3, "zarr3", "r1"), (gates.CatalogScanGates.ensureZarrNestedFixture(), "zarr3", "r2"),
        (v3, "zarr3", "r3"))), "coords")
  }

  test("kerchunk reference typed: the group chain equals the per-asset union") {
    val got = assertSameAsUnion(source("typed",
      Seq((kerchunkIndex(0), "reference", "r1"), (kerchunkIndex(10), "reference", "r2"))), "typed")
    assert(got.select(sum("value")).head().getDouble(0) == 4 * 0 + 1.0 + 4 * 10 + 1.0)
  }

  test("a refusal inside the chain names the variable without its asset tag") {
    val bad = Files.createTempFile("graft_chain_bad", ".json")
    Files.writeString(bad,
      """{"version": 1, "refs": {
        |  "w/.zarray": ["file:///nowhere.bin", 0, 100],
        |  "w/0": "base64:AAAAAA=="
        |}}""".stripMargin)
    val src = source("typed", Seq((kerchunkIndex(0), "reference", "r1"), (bad.toString, "reference", "r2")))
    val e = intercept[Exception](src.load(spark, Coords).collect())
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("zarr variable 'w' has no inline .zarray metadata"), msg)
    assert(!msg.contains("1::w"), msg)
  }

  test("netCDF-3 cf: the group chain equals the per-asset union") {
    val got = assertSameAsUnion(source("cf", Seq((nc3(), "netcdf", "r1"), (nc3(), "netcdf", "r2"))),
      "cf")
    // fill → null and the standard-calendar time axis survive the chain
    assert(got.filter(col("variable") === "tas" && col("value").isNull).count() == 2)
    assert(got.filter(col("variable") === "time" && col("time").isNotNull).count() == 8)
  }

  test("netCDF-4 and zarr assets of one group share the chain") {
    assertSameAsUnion(source("coords",
      Seq((gates.CatalogScanGates.ensureHdf5V4Fixture(), "netcdf", "r1"), (zarrStore(2), "zarr", "r2"))),
      "coords")
  }

  test("a join_new attribute null on one asset: same rows, columns and merge") {
    val src = source("coords",
      Seq((zarrStore(0), "zarr", "r1"), (zarrStore(1), "zarr", null), (zarrStore(3), "zarr", "r3")))
    assertSameAsUnion(src, "coords")
  }

  test("requested variables project the chain as they projected each asset") {
    val src = source("coords", Seq((zarrStore(0), "zarr", "r1"), (zarrStore(1), "zarr", "r2")),
      requested = Seq("tas"))
    val got = assertSameAsUnion(src, "coords")
    assert(got.columns.toSeq == Seq("variable", "coords", "chunk", "idx", "member_id"))
  }

  test("a preprocess hook runs once per asset and sees one asset's rows") {
    val calls = new AtomicInteger
    // a per-asset aggregate: over the whole group it would read the
    // group's maximum instead
    val hook: DataFrame => DataFrame = { df =>
      calls.incrementAndGet()
      df.withColumn("vmax", max("value").over(Window.partitionBy("variable")))
    }
    val src = source("coords", Seq((zarrStore(0), "zarr", "r1"), (zarrStore(1), "zarr", "r2")),
      preprocess = Some(hook))
    val got = src.load(spark, Coords)
    assert(calls.get() == 2)
    assert(got.select("member_id", "vmax").distinct().count() == 4)
    calls.set(0)
    assertSameAsUnion(src, "coords")
    assert(calls.get() == 4) // two for the chain, two for the union
  }

  test("one asset opens through the same chain, untagged and unsorted") {
    val store = zarrStore(0)
    val src = source("coords", Seq((store, "zarr", "r1")))
    val got = src.openAsset(spark, store, "zarr")
    val want = decodeAlone(store, "zarr", "coords")
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(!src.load(spark, Coords).queryExecution.optimizedPlan.exists {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.global
      case _                                                   => false
    })
  }

  // ------------------------------------------------ materializeChunks bands

  test("one generated file's 64 ranges spread across partitions, bytes stay exact") {
    import org.apache.spark.sql.functions.spark_partition_id
    val f = Files.createTempFile("graft_bands", ".bin")
    val all = Array.tabulate[Byte](64 * 64)(i => (i * 31 + 7).toByte)
    Files.write(f, all)
    val n = 64
    val entries = (0 until n).map { i =>
      (s"v/$i", "v", s"$i", "ref", f.toString, Some(i.toLong * 64), Some(32L), None: Option[String])
    }.toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val out = KerchunkIndex.materializeChunks(entries, bytesPerTask = 512)
    val parts = out.select(spark_partition_id().as("p")).distinct().count()
    assert(parts > 1, s"expected >1 partition for a single-url many-chunk index, got $parts")
    val got = out.select("key", "data").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got.size == n)
    (0 until n).foreach { i =>
      assert(java.util.Arrays.equals(got(s"v/$i"),
        java.util.Arrays.copyOfRange(all, i * 64, i * 64 + 32)), s"chunk $i bytes")
    }
  }

  test("a 2-chunk store reads its chunks in no more tasks than the default parallelism") {
    val store = Files.createTempDirectory("graft_tiny_zarr").toString
    graft.sources.ZarrWriter.write(
      (0L until 4L).map(i => ("v", Seq("x"), Seq(i), i * 1.5)).toDF("variable", "dims", "coords", "value"),
      store, maxChunkBytes = 16, compress = false)
    val entries = ZarrDirectoryIndex.read(spark, store)
    assert(entries.filter(col("kind") === "ref").count() == 2)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val out = try {
      val out = KerchunkIndex.materializeChunks(entries).filter(col("kind") === "ref").select("data")
      val data = out.collect()
      assert(data.length == 2 && data.forall(_.getAs[Array[Byte]](0).length == 16))
      out
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // the positioned reads run one task per partition of the (url, band)
    // exchange, which AQE leaves uncoalesced
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exchanges = plans.collect(out.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.numPartitions
    }
    assert(exchanges.nonEmpty)
    val par = spark.sparkContext.defaultParallelism
    assert(exchanges.forall(_ <= par), s"read exchanges of $exchanges partitions, parallelism $par")
  }
}
