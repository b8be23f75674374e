package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Object-store connector smoke test (the r7 verdict's "storageOptions →
  * s3a path unexercised" gap): a loopback object store
  * ([[graft.harness.MockObjectStoreFs]], scheme `mocks3://`) registered
  * purely through per-call `storageOptions` — `fs.mocks3.impl` plus its
  * config key, the exact shape a user passes `fs.s3a.impl`/endpoint/
  * credentials via the catalog's storage_options (cat.py:238-280). Proves
  * the whole chain: scheme dispatch (FsPaths), container sniff, positioned
  * byte-range reads (materializeChunks), and the native netCDF → CF decode
  * plane, all over a non-file scheme with no connector jar installed. */
class ObjectStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mocks3_")
    val bucket = dir.resolve("climate")
    java.nio.file.Files.createDirectories(bucket)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(gates.CatalogScanGates.ensureCfFixture()),
      bucket.resolve("cf.nc"))
    dir.toString
  }

  private def opts(extra: (String, String)*): Map[String, String] =
    Map(
      "fs.mocks3.impl" -> classOf[graft.harness.MockObjectStoreFs].getName,
      "fs.mocks3.localdir" -> root,
    ) ++ extra

  test("netcdf asset opens over the object-store scheme, CF decode included") {
    val viaStore = graft.catalog.EsmDataSource("s3smoke", Nil, "path", None, Nil,
        storageOptions = opts("graft.kerchunk.decode" -> "cf"))
      .openAsset(spark, "mocks3://climate/cf.nc", "netcdf")
      .select(col("variable"),
        array_join(col("coords").cast("array<string>"), ".").as("k"),
        col("value"), col("time").cast("string").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val viaLocal = graft.catalog.EsmDataSource("local", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "cf"))
      .openAsset(spark, gates.CatalogScanGates.ensureCfFixture(), "netcdf")
      .select(col("variable"),
        array_join(col("coords").cast("array<string>"), ".").as("k"),
        col("value"), col("time").cast("string").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(viaStore.nonEmpty && viaStore == viaLocal)
  }

  test("kerchunk byte-range refs read positioned over the object-store scheme") {
    import spark.implicits._
    // the CF fixture's bytes, addressed by (offset, length) ranges through
    // the ref plane — the kerchunk-over-object-store shape
    val all = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(gates.CatalogScanGates.ensureCfFixture()))
    val url = "mocks3://climate/cf.nc"
    val entries = Seq(
      ("v/0", "v", "0", "ref", url, Some(0L), Some(4L), None: Option[String]),
      ("v/1", "v", "1", "ref", url, Some(10L), Some(16L), None: Option[String]),
      ("v/2", "v", "2", "ref", url, Some(all.length - 8L), Some(8L), None: Option[String]),
    ).toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val got = graft.sources.KerchunkIndex
      .materializeChunks(entries, storageOptions = opts())
      .select("key", "data").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got("v/0").sameElements(all.slice(0, 4)))
    assert(got("v/0").startsWith("CDF".getBytes("US-ASCII")))
    assert(got("v/1").sameElements(all.slice(10, 26)))
    assert(got("v/2").sameElements(all.slice(all.length - 8, all.length)))
  }

  test("same scheme without its impl option still refuses at the connector boundary") {
    import spark.implicits._
    val entries = Seq(
      ("v/0", "v", "0", "ref", "mocks3z://climate/cf.nc", Some(0L), Some(4L),
        None: Option[String]),
    ).toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val ex = intercept[Exception] {
      graft.sources.KerchunkIndex.materializeChunks(entries).collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(t => t.isInstanceOf[UnsupportedOperationException] &&
      t.getMessage.contains("connector boundary")), ex.toString)
  }
}
