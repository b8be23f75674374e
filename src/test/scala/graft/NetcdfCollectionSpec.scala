package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.NetcdfCollection

/** Multi-file (glob) netCDF opens: nested concat along the record dim
  * (source.py:102-107). The collection mirrors the reference's own
  * two-file CMIP5 glob (tests/test_source.py:41,71; FIXTURES.md §1.7):
  * two time-split CDF-1 files the spec writes byte by byte. */
class NetcdfCollectionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Two CDF-1 files of the CMIP5 `tasmax` shape: `time` UNLIMITED with 2
    * records per file, `lat` 5, `lon` 5; variables `time(time)` f8,
    * `lat(lat)` f8, `lon(lon)` f8 and `tasmax(time,lat,lon)` f4. Written
    * from the netCDF classic spec (big-endian, padded names, fixed data
    * then the record section), independent of the reader's code paths. */
  private lazy val tasmaxDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tasmax_glob")
    def write(name: String, firstRecord: Int): Unit = {
      val numrecs = 2
      val b = java.nio.ByteBuffer.allocate(4096).order(java.nio.ByteOrder.BIG_ENDIAN)
      def putName(s: String): Unit = {
        b.putInt(s.length); b.put(s.getBytes("US-ASCII"))
        (0 until ((4 - s.length % 4) % 4)).foreach(_ => b.put(0.toByte))
      }
      b.put("CDF".getBytes("US-ASCII")); b.put(1.toByte)
      b.putInt(numrecs)
      b.putInt(0x0a); b.putInt(3)
      putName("time"); b.putInt(0) // UNLIMITED (record) dim
      putName("lat"); b.putInt(5)
      putName("lon"); b.putInt(5)
      b.putInt(0); b.putInt(0) // no global atts
      b.putInt(0x0b); b.putInt(4)
      val beginSlots = scala.collection.mutable.ArrayBuffer.empty[Int]
      def varEntry(name: String, dimids: Seq[Int], ncType: Int, vsize: Int): Unit = {
        putName(name); b.putInt(dimids.length); dimids.foreach(b.putInt)
        b.putInt(0); b.putInt(0) // no atts
        b.putInt(ncType); b.putInt(vsize)
        beginSlots += b.position(); b.putInt(0)
      }
      varEntry("time", Seq(0), 6, 8)
      varEntry("lat", Seq(1), 6, 40)
      varEntry("lon", Seq(2), 6, 40)
      varEntry("tasmax", Seq(0, 1, 2), 5, 100)
      // fixed section: lat, lon; record section: (time, tasmax) per record,
      // stride 8 + 100 = 108
      val latBegin = b.position()
      val recBegin = latBegin + 80
      Seq(recBegin, latBegin, latBegin + 40, recBegin + 8).zip(beginSlots)
        .foreach { case (v, slot) => b.putInt(slot, v) }
      (0 until 5).foreach(i => b.putDouble(-90.0 + 1.25 * i))
      (0 until 5).foreach(i => b.putDouble(1.875 * i))
      for (r <- 0 until numrecs) {
        val t = firstRecord + r
        b.putDouble(30.0 * t - 15.0)
        for (la <- 0 until 5; lo <- 0 until 5) b.putFloat(250.0f + t + la * 0.5f + lo * 0.25f)
      }
      java.nio.file.Files.write(dir.resolve(name), java.util.Arrays.copyOf(b.array(), b.position()))
    }
    write("tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200511-200512.nc", 0)
    write("tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200601-200602.nc", 2)
    dir.toString
  }

  test("isGlob matches the reference's '*' trigger, not tar urls") {
    assert(NetcdfCollection.isGlob(s"$tasmaxDir/*.nc"))
    assert(!NetcdfCollection.isGlob(s"$tasmaxDir/plain.nc"))
    assert(!NetcdfCollection.isGlob("tar://member*.nc::/a/b.tar"))
  }

  test("expand returns sorted matches; empty glob fails loudly") {
    val files = NetcdfCollection.expand(spark, s"$tasmaxDir/*.nc")
    assert(files.size === 2)
    assert(files === files.sorted)
    val e = intercept[IllegalArgumentException] {
      NetcdfCollection.expand(spark, s"$tasmaxDir/*.zarr")
    }
    assert(e.getMessage.contains("matched no files"))
  }

  test("openCoords nested-concatenates the record dim; static vars come once") {
    val files = NetcdfCollection.expand(spark, s"$tasmaxDir/*.nc")
    val df = NetcdfCollection.openCoords(spark, files).cache()
    try {
      // time = 2 + 2 records, shifted contiguously
      val times = df.filter(col("variable") === "time")
        .select(element_at(col("coords"), 1)).collect().map(_.getLong(0)).sorted
      assert(times === Array(0L, 1L, 2L, 3L))
      // tasmax covers the full 4x5x5 grid exactly once
      assert(df.filter(col("variable") === "tasmax").count() === 100L)
      assert(df.filter(col("variable") === "tasmax").select("coords").distinct().count() === 100L)
      // lat has no record dim: file 1's five values only, not ten
      assert(df.filter(col("variable") === "lat").count() === 5L)
    } finally df.unpersist()
  }

  test("an explicit concat_dim option overrides inference and agrees here") {
    val files = NetcdfCollection.expand(spark, s"$tasmaxDir/*.nc")
    val inferred = NetcdfCollection.openCoords(spark, files)
      .select("variable", "dims", "coords", "value").collect().map(_.toString).sorted
    val explicit = NetcdfCollection.openCoords(spark, files,
        Map("graft.mfdataset.concat_dim" -> "time"))
      .select("variable", "dims", "coords", "value").collect().map(_.toString).sorted
    assert(inferred === explicit)
  }

  test("typed decode mode on a glob refuses with guidance") {
    val src = graft.catalog.EsmDataSource("g", Nil, "path", None, Nil,
      storageOptions = Map("graft.kerchunk.decode" -> "typed"))
    val e = intercept[UnsupportedOperationException] {
      src.openAsset(spark, s"$tasmaxDir/*.nc", "netcdf")
    }
    assert(e.getMessage.contains("coords"))
  }

  test("entries mode yields a url-stamped inventory of every file") {
    val src = graft.catalog.EsmDataSource("g", Nil, "path", None, Nil)
    val inv = src.openAsset(spark, s"$tasmaxDir/*.nc", "netcdf")
    assert(inv.filter(col("url").isNull).count() === 0L)
    assert(inv.select("url").distinct().count() === 2L)
  }
}
