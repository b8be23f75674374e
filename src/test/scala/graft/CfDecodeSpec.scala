package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CF-convention decode layer ([[graft.sources.CfDecode]]): mask/scale/
  * time semantics against the hand-encoded CDF-1 fixture, plus the loud
  * refusals (non-standard calendar, unparseable time units).
  *
  * The expected values for the fixture path are PINNED literals computed
  * independently in python (scripts/cf_check.py re-derives them every
  * run) — not re-derived here from the same Scala formulas the fixture
  * encoder uses. */
class CfDecodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def openCf() = {
    val nc = gates.CatalogScanGates.ensureCfFixture()
    graft.catalog.EsmCatalog // touch nothing; keep import shape simple
    graft.catalog.EsmDataSource("cf", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "cf"))
      .openAsset(spark, nc, "netcdf")
  }

  test("packed int16 unpacks via scale/offset and _FillValue masks to null") {
    val tas = openCf().filter(col("variable") === "tas")
      .select(array_join(col("coords").cast("array<string>"), ".").as("k"), col("value"))
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(tas.size == 12)
    // python: -150*0.01+250.0 = 248.5 ; 170*0.01+250.0 = 251.7
    assert(tas("0.0") === Some(248.5))
    assert(tas("3.2") === Some(251.7))
    assert(tas("1.1") === None) // raw -999 = _FillValue
  }

  test("missing_value masks the float variable; identity otherwise") {
    val rh = openCf().filter(col("variable") === "rh")
      .select(array_join(col("coords").cast("array<string>"), ".").as("k"), col("value"))
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(rh("2.0") === None)       // raw 1e20f = missing_value
    assert(rh("1.2") === Some(2.0))  // 1 + 2*0.5, no scale/offset attrs
  }

  test("standard-calendar time units decode to timestamps (pre-1970 epoch)") {
    val t = openCf().filter(col("variable") === "time")
      .select(col("coords")(0).as("i"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // python: datetime(1850,1,16,12) + timedelta(days=d)
    assert(t(0L) == "1850-01-16 12:00:00")
    assert(t(1L) == "1850-02-16 12:00:00") // +31 days
    assert(t(3L) == "1850-04-16 12:00:00") // +90 days
    // non-time variables carry a null time column
    val latTimes = openCf().filter(col("variable") === "lat" && col("time").isNotNull).count()
    assert(latTimes == 0)
  }

  // synthesized single-variable entry plane for the refusal paths: one
  // inline chunk (two big-endian int32s by default) + configurable .zattrs
  private def entriesWith(attrs: String,
                          dtype: String = ">i4",
                          payload: Array[Byte] = Array[Byte](0, 0, 0, 1, 0, 0, 0, 2)) = {
    import spark.implicits._
    val b64 = java.util.Base64.getEncoder.encodeToString(payload)
    Seq(
      ("t/.zarray", "t", ".zarray", "meta", null: String, None: Option[Long], None: Option[Long],
        Some(s"""{"zarr_format":2,"dtype":"$dtype","shape":[2],"chunks":[2],"compressor":null,"filters":null,"order":"C"}""")),
      ("t/.zattrs", "t", ".zattrs", "meta", null: String, None: Option[Long], None: Option[Long],
        Some(attrs)),
      ("t/0", "t", "0", "inline", null: String, None: Option[Long], None: Option[Long],
        Some("base64:" + b64)),
    ).toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
  }

  private def decodeAll(attrs: String) = {
    val e = entriesWith(attrs)
    graft.sources.CfDecode.decodeCf(
      graft.sources.KerchunkIndex.materializeChunks(e),
      graft.sources.KerchunkIndex.arrayMeta(e),
      graft.sources.KerchunkIndex.attrDims(e),
      graft.sources.CfDecode.cfAttrs(e)).collect()
  }

  test("unknown calendar refuses loudly instead of shifting dates") {
    val ex = intercept[Exception](decodeAll(
      """{"units":"days since 1850-01-01","calendar":"my_custom_cal","_ARRAY_DIMENSIONS":["t"]}"""))
    assert(ex.getMessage != null && ex.getMessage.contains("my_custom_cal"), ex.getMessage)
  }

  test("julian calendar: leap every 4th year, no century exception (1900-02-29)") {
    // fixture tjul: "Days since 1900-01-01" (capitalized unit word — the
    // grammar must be case-insensitive end to end), calendar julian.
    // 1900 IS a julian leap year (gregorian says no): day 59 must be
    // Feb 29. Pinned from python (cf_check.py's independent
    // year-stepping julian_cal_date).
    val tj = openCf().filter(col("variable") === "tjul")
      .select(col("coords")(0).as("i"), col("time_cal"),
        date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(tj(0L)._1 == "1900-02-28 00:00:00")
    assert(tj(1L)._1 == "1900-02-29 00:00:00") // exists in julian, not gregorian
    assert(tj(2L)._1 == "1900-03-01 00:00:00")
    assert(tj(3L)._1 == "1903-12-31 00:00:00") // +1460 d crosses the leap year + 3 plain
    // r10 instant fast path: a julian date names a real instant, so `time`
    // carries its proleptic-Gregorian conversion ALONGSIDE the calendar
    // string — julian 1900-01-01 is Gregorian 1900-01-13 (JDN 2415033)
    assert(tj(0L)._2 == "1900-03-12 00:00:00", tj(0L)._2)
    assert(tj(1L)._2 == "1900-03-13 00:00:00", tj(1L)._2)
    assert(tj(2L)._2 == "1900-03-14 00:00:00", tj(2L)._2)
    assert(tj(3L)._2 == "1904-01-13 00:00:00", tj(3L)._2)
  }

  test("_Unsigned both directions on the synthetic plane") {
    def vals(attrs: String, dtype: String, payload: Array[Byte]): Map[Long, Option[Double]] = {
      val e = entriesWith(attrs, dtype, payload)
      graft.sources.CfDecode.decodeCf(
          graft.sources.KerchunkIndex.materializeChunks(e),
          graft.sources.KerchunkIndex.arrayMeta(e),
          graft.sources.KerchunkIndex.attrDims(e),
          graft.sources.CfDecode.cfAttrs(e))
        .select(col("coords")(0), col("value")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    }
    // "true" on a signed byte: stored -1 widens to 255; 5 unchanged
    val up = vals("""{"_Unsigned":"true","_ARRAY_DIMENSIONS":["t"]}""",
      "|i1", Array(0xFF.toByte, 0x05))
    assert(up == Map(0L -> Some(255.0), 1L -> Some(5.0)), up.toString)
    // "false" on an UNSIGNED short (the OPeNDAP quirk): stored 65534
    // narrows to -2; 1 unchanged
    val dn = vals("""{"_Unsigned":"false","_ARRAY_DIMENSIONS":["t"]}""",
      ">u2", Array(0xFF.toByte, 0xFE.toByte, 0x00, 0x01))
    assert(dn == Map(0L -> Some(-2.0), 1L -> Some(1.0)), dn.toString)
    // no flag: both pass through raw
    val raw = vals("""{"_ARRAY_DIMENSIONS":["t"]}""",
      "|i1", Array(0xFF.toByte, 0x05))
    assert(raw == Map(0L -> Some(-1.0), 1L -> Some(5.0)), raw.toString)
  }

  test("_Unsigned byte reinterprets raw and fill before mask/unpack") {
    val pb = openCf().filter(col("variable") === "pb")
      .select(col("coords")(0).as("i"), col("value"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(pb(0L) === Some(511.0)) // stored -1 -> 255; 255*2+1 (sign-decisive)
    assert(pb(1L) === Some(201.0)) // stored 100 unchanged
    assert(pb(2L) === None)        // stored -106 matches the equally-reinterpreted fill (150)
  }

  test("capitalized 'Since' decodes instead of tripping the units refusal") {
    val e = entriesWith("""{"units":"Days Since 1850-01-01","_ARRAY_DIMENSIONS":["t"]}""")
    val out = graft.sources.CfDecode.decodeCf(
        graft.sources.KerchunkIndex.materializeChunks(e),
        graft.sources.KerchunkIndex.arrayMeta(e),
        graft.sources.KerchunkIndex.attrDims(e),
        graft.sources.CfDecode.cfAttrs(e))
      .select(date_format(col("time"), "yyyy-MM-dd").as("d"))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("1850-01-02", "1850-01-03"))
  }

  test("noleap calendar decodes with fixed-month arithmetic (leap-year decisive)") {
    // fixture tnl: days since 0004-01-01, noleap. Year 0004 IS a Gregorian
    // leap year, so day-of-year 59 (0-based) must be Mar 1 — a gregorian
    // decode would say Feb 29. Values pinned from python (cf_check.py's
    // independent fixed_cal_date).
    val tnl = openCf().filter(col("variable") === "tnl")
      .select(col("coords")(0).as("i"), col("time_cal"), col("time"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap
    assert(tnl(0L)._1 == "0004-02-28 00:00:00")
    assert(tnl(1L)._1 == "0004-03-01 00:00:00") // NOT Feb 29
    assert(tnl(2L)._1 == "0004-03-02 00:00:00")
    assert(tnl(3L)._1 == "0004-12-31 00:00:00") // day 364 = last day of a 365-day year
    assert(tnl.values.forall(_._2 == null), "fixed calendars must not fill the timestamp column")
  }

  test("360_day calendar decodes 30-day months") {
    val t360 = openCf().filter(col("variable") === "t360")
      .select(col("coords")(0).as("i"), col("time_cal"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t360(0L) == "0001-01-30 00:00:00")
    assert(t360(1L) == "0001-02-01 00:00:00") // day 30 rolls into month 2
    assert(t360(2L) == "0001-12-30 00:00:00") // last day of the 360-day year
    assert(t360(3L) == "0002-12-30 00:00:00")
  }

  test("unparseable time unit word refuses loudly") {
    val ex = intercept[Exception](decodeAll(
      """{"units":"fortnights since 1850-01-01","_ARRAY_DIMENSIONS":["t"]}"""))
    assert(ex.getMessage != null && ex.getMessage.contains("did not parse"), ex.getMessage)
  }

  test("real CESM POP file: noleap time axis, fill masking (reference fidelity)") {
    // the reference's own sample data (calendar "noleap", units
    // "days since 0000-01-01 00:00:00", _FillValue 9.97e36 over land):
    // exactly the file class the r7 verdict said a CMIP user hits first.
    // Pinned values: 146031 = 400*365 + 31 → cftime.DatetimeNoLeap(400,2,1)
    // (the filename's 040001 period start, stamped at interval end);
    // 146059 → day-of-year 59 → Mar 1 (noleap). TLAT values equal the
    // load_netcdf4 oracle's pinned raw values (no scale/offset attrs).
    val f = s"${ReferenceData.sampleData}/cesm-le/" +
      "b.e11.B1850C5CN.f09_g16.005.pop.h.SHF.040001-049912.nc"
    ReferenceData.assumePresent(f)
    val df = graft.catalog.EsmDataSource("cesm", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "cf"))
      .openAsset(spark, f, "netcdf")
    val time = df.filter(col("variable") === "time")
      .select(col("coords")(0).as("i"), col("time_cal"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(time(0L) == "0400-02-01 00:00:00")
    assert(time(1L) == "0400-03-01 00:00:00")
    val tlat00 = df.filter(col("variable") === "TLAT")
      .filter(col("coords") === array(lit(0L), lit(0L)))
      .select("value").head().getDouble(0)
    assert(tlat00 == 28.55677500703854)
    // SHF: a quarter of the grid is land → _FillValue → null
    val shf = df.filter(col("variable") === "SHF")
      .agg(count(lit(1)).as("n"), sum(when(col("value").isNull, 1).otherwise(0)).as("nulls"))
      .head()
    assert(shf.getLong(0) == 4800 && shf.getLong(1) == 1200)
  }

  test("time unit words and epoch formats: hours, seconds, T separator, fraction") {
    def times(attrs: String): Map[Long, String] =
      decodeAll(attrs).map(r => r.getAs[Long]("idx") ->
        String.valueOf(r.getAs[java.sql.Timestamp]("time"))).toMap
    // payload values are [1, 2] (two big-endian int32s)
    val h = times("""{"units":"hours since 2000-01-01 06:00:00","_ARRAY_DIMENSIONS":["t"]}""")
    assert(h(0L) == "2000-01-01 07:00:00.0" && h(1L) == "2000-01-01 08:00:00.0")
    val sec = times("""{"units":"seconds since 2000-06-15T12:30:15","_ARRAY_DIMENSIONS":["t"]}""")
    assert(sec(0L) == "2000-06-15 12:30:16.0" && sec(1L) == "2000-06-15 12:30:17.0")
    val frac = times("""{"units":"minutes since 1999-12-31 23:59:30.5 UTC","_ARRAY_DIMENSIONS":["t"]}""")
    assert(frac(0L) == "2000-01-01 00:00:30.5" && frac(1L) == "2000-01-01 00:01:30.5")
    val wk = times("""{"units":"weeks since 2024-01-01","_ARRAY_DIMENSIONS":["t"]}""")
    assert(wk(0L) == "2024-01-08 00:00:00.0" && wk(1L) == "2024-01-15 00:00:00.0")
  }

  test("fixed calendars: hour units and year-boundary rollover") {
    def cals(attrs: String): Map[Long, String] =
      decodeAll(attrs).map(r => r.getAs[Long]("idx") -> r.getAs[String]("time_cal")).toMap
    // values [1, 2] hours since the last hour of a noleap year: value 1
    // lands exactly on the year boundary, value 2 one hour past it
    val h = cals("""{"units":"hours since 0002-12-31 23:00:00","calendar":"noleap","_ARRAY_DIMENSIONS":["t"]}""")
    assert(h(0L) == "0003-01-01 00:00:00")
    assert(h(1L) == "0003-01-01 01:00:00")
    // all_leap: Feb has 29 days every year — day 59 of year 1 IS Feb 29
    val al = cals("""{"units":"days since 0001-01-01","calendar":"all_leap","_ARRAY_DIMENSIONS":["t"]}""")
    assert(al(0L) == "0001-01-02 00:00:00")
    assert(al(1L) == "0001-01-03 00:00:00")
    val al59 = graft.sources.CfCalendarDate.format("0001-01-01", 59.0 * 86400, "all_leap")
    assert(al59 == "0001-02-29 00:00:00")
    val nl59 = graft.sources.CfCalendarDate.format("0001-01-01", 59.0 * 86400, "noleap")
    assert(nl59 == "0001-03-01 00:00:00")
    val d360 = graft.sources.CfCalendarDate.format("0001-02-28 12:00:00", 2.5 * 86400, "360_day")
    assert(d360 == "0001-03-01 00:00:00") // 28th 12:00 + 2.5d in 30-day months
  }

  test("plain units decode as identity with null time") {
    val rows = decodeAll("""{"units":"K","_ARRAY_DIMENSIONS":["t"]}""")
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Double]("value")).sorted.toSeq == Seq(1.0, 2.0))
    assert(rows.forall(_.getAs[java.sql.Timestamp]("time") == null))
  }
}
