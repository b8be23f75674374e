package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CF-convention decode layer (opt-in `graft.kerchunk.decode=cf`) over the
  * shared chunk-map plane — the unit/mask/time semantics
  * `xarray.open_dataset` applies by default (`mask_and_scale=True`,
  * `decode_times=True`) when the reference hands an asset to xarray
  * (intake_esm/source.py:70-137; the docs' CMIP6 tutorial output depends
  * on it, docs/source/tutorials/loading-cmip6-data.md:144).
  *
  * Everything is a broadcast join of tiny per-variable attribute rows plus
  * per-row column expressions layered on [[KerchunkIndex.decodeCoords]] —
  * no new parser, no shuffle, embarrassingly parallel at 100 TB.
  *
  * Semantics (CF Conventions §8.1 "Packed Data", §4.4 "Time Coordinate"):
  *  - masking compares the RAW stored value against `_FillValue` and
  *    `missing_value` (before unpacking, per CF) → null; a NaN fill also
  *    masks NaN raw values (float equality would miss them);
  *  - unpack = raw * scale_factor + add_offset (each defaulting to the
  *    identity when absent), in double — the widened type xarray picks for
  *    any packed variable;
  *  - a variable whose `units` is `<unit> since <datetime>` decodes its
  *    time axis: epoch parsed from the ISO-ish CF datetime
  *    (`YYYY-M-D[ H:M[:S[.f]]][Z|UTC]`), value scaled by the unit's seconds
  *    (weeks/days/hours/minutes/seconds/milliseconds/microseconds and
  *    their CF spellings). Real-world calendars — absent, `standard`,
  *    `gregorian`, `proleptic_gregorian` — fill the `time` TIMESTAMP
  *    column. The fixed CF model calendars — `noleap`/`365_day`,
  *    `all_leap`/`366_day`, `360_day`, ubiquitous in real CMIP output
  *    (e.g. CESM POP writes `calendar: "noleap"`) — have dates no instant
  *    timestamp can represent, so they fill the `time_cal` STRING column
  *    instead (`yyyy-MM-dd HH:mm:ss` computed with the calendar's own
  *    fixed-month integer arithmetic — the relational analogue of
  *    xarray's cftime objects), and so do the julian-family calendars
  *    (`julian`/`proleptic_julian`: leap every 4th year with NO century
  *    exception, so 1900-02-29 exists) — but a julian DATE names a real
  *    instant, so since r10 the julian family ALSO fills `time` with the
  *    proleptic-Gregorian timestamp of that instant (epoch converted via
  *    its Julian Day Number) whenever it lands in the year 1-9999 render
  *    window, alongside the authoritative `time_cal` string. Any OTHER
  *    calendar REFUSES
  *    loudly rather than silently shifting every date. A time-like units
  *    string whose unit word or epoch fails to parse also refuses loudly;
  *  - the netCDF-3 `_Unsigned` convention reinterprets signed stored
  *    integers as unsigned (and the symmetric `"false"` direction)
  *    BEFORE masking/unpacking, with the fill/missing attrs
  *    reinterpreted identically — xarray's UnsignedIntegerCoder.
  *
  * Out of scope (documented, refuse-or-ignore): `valid_range`/`valid_min`/
  * `valid_max` masking is ignored (attrs pass through untouched).
  */
object CfDecode {

  /** CF decode attributes per variable from the `.zattrs` plane:
    * (variable, cf_scale, cf_offset, cf_fill, cf_missing, cf_units,
    * cf_calendar, cf_unsigned). One tiny row per variable — always
    * broadcast. */
  def cfAttrs(entries: DataFrame): DataFrame =
    entries.filter(col("member") === ".zattrs" && col("variable") =!= "")
      .select(
        col("variable"),
        get_json_object(col("inline_value"), "$.scale_factor").cast("double").as("cf_scale"),
        get_json_object(col("inline_value"), "$.add_offset").cast("double").as("cf_offset"),
        get_json_object(col("inline_value"), "$._FillValue").cast("double").as("cf_fill"),
        get_json_object(col("inline_value"), "$.missing_value").cast("double").as("cf_missing"),
        get_json_object(col("inline_value"), "$.units").as("cf_units"),
        get_json_object(col("inline_value"), "$.calendar").as("cf_calendar"),
        get_json_object(col("inline_value"), "$._Unsigned").as("cf_unsigned"))

  // (?i): CF writers capitalize freely ("Days Since 2000-1-1"); the
  // time-like detector below is already case-insensitive, and the two
  // regexes MUST agree or a capitalized 'Since' detects as time-like yet
  // fails extraction and trips the unparseable-units refusal
  private val unitsRe = "(?i)^\\s*([A-Za-z]+)\\s+since\\s+(.+?)\\s*$"
  private val epochRe =
    "^(\\d{1,4})-(\\d{1,2})-(\\d{1,2})(?:[ T](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}(?:[.]\\d+)?))?)?(?:\\s*(?:Z|UTC))?$"

  private def secondsPerUnit(unit: Column): Column =
    when(unit.isin("days", "day", "d"), 86400.0)
      .when(unit.isin("hours", "hour", "hr", "h"), 3600.0)
      .when(unit.isin("minutes", "minute", "min"), 60.0)
      .when(unit.isin("seconds", "second", "sec", "s"), 1.0)
      .when(unit.isin("milliseconds", "millisecond", "msec", "ms"), 0.001)
      .when(unit.isin("microseconds", "microsecond", "usec", "us"), 1e-6)
      .when(unit.isin("weeks", "week"), 604800.0)

  private val standardCals = Seq("standard", "gregorian", "proleptic_gregorian")
  private val fixedCals = Seq("noleap", "365_day", "all_leap", "366_day", "360_day")
  // julian-family dates (leap every 4th year, NO century exception — so
  // 1900-02-29 exists) drift vs the instant timeline, so like the fixed
  // calendars they decode to `time_cal` strings via CfCalendarDate's
  // integer arithmetic; cftime's 'julian' is already proleptic, so both
  // spellings share the rule
  private val julianCals = Seq("julian", "proleptic_julian")

  /** [[KerchunkIndex.decodeCoords]] plus CF decode: `value` becomes the
    * masked + unpacked double; `time` (timestamp) is non-null exactly for
    * standard-calendar time-coordinate values and `time_cal` (string) for
    * fixed-calendar (noleap/all_leap/360_day) ones. Output:
    * (variable, chunk, idx, value, time, time_cal, dims, coords). */
  def decodeCf(chunks: DataFrame, meta: DataFrame, dims: DataFrame,
               cf: DataFrame): DataFrame = {
    // netCDF-3 `_Unsigned` convention (xarray's UnsignedIntegerCoder,
    // applied BEFORE mask/unpack): a signed stored integer flagged
    // `_Unsigned = "true"` reinterprets raw < 0 as raw + 2^bits, bits from
    // the `.zarray` dtype width. The fill/missing attrs reinterpret
    // IDENTICALLY — a fill stored as byte -1 must keep matching data
    // stored as -1 (now both 255), and a fill written as 255 must match
    // too; comparing mixed signs silently masks nothing. The symmetric
    // `_Unsigned = "false"` on an unsigned stored dtype (an OPeNDAP quirk
    // xarray also honors) narrows raw >= 2^(bits-1) by -2^bits. i8/u8
    // widths lose sub-ulp precision in the double value plane — inherent,
    // the whole decode plane is double.
    val dkind  = regexp_extract(col("dtype"), "([iu])([1248])$", 1)
    val span   = pow(lit(2.0), regexp_extract(col("dtype"), "([iu])([1248])$", 2)
      .cast("int") * 8)
    val toUnsigned = lower(col("cf_unsigned")) === "true"  && dkind === "i"
    val toSigned   = lower(col("cf_unsigned")) === "false" && dkind === "u"
    def reinterp(c: Column): Column =
      when(toUnsigned && c < 0, c + span)
        .when(toSigned && c >= span / 2, c - span)
        .otherwise(c)
    val raw = reinterp(col("value"))
    val fill    = reinterp(col("cf_fill"))
    val missing = reinterp(col("cf_missing"))
    val fillHit =
      (raw === fill) || (raw === missing) ||
        (isnan(col("cf_fill")) && isnan(raw)) || (isnan(col("cf_missing")) && isnan(raw))
    val unpacked = (raw * coalesce(col("cf_scale"), lit(1.0)) +
      coalesce(col("cf_offset"), lit(0.0)))
    val decoded = when(coalesce(fillHit, lit(false)), lit(null).cast("double"))
      .otherwise(unpacked)

    val timeLike = col("cf_units").isNotNull &&
      col("cf_units").rlike("(?i)^\\s*[A-Za-z]+\\s+since\\s")
    val unitWord = lower(regexp_extract(col("cf_units"), unitsRe, 1))
    val unitSec = secondsPerUnit(unitWord)
    val epochStr = regexp_extract(col("cf_units"), unitsRe, 2)
    def g(i: Int): Column = regexp_extract(epochStr, epochRe, i)
    val epochOk = g(1) =!= ""
    val epochTs = make_timestamp(
      g(1).cast("int"), g(2).cast("int"), g(3).cast("int"),
      coalesce(nullif(g(4), lit("")), lit("0")).cast("int"),
      coalesce(nullif(g(5), lit("")), lit("0")).cast("int"),
      coalesce(nullif(g(6), lit("")), lit("0")).cast("decimal(16,6)"))
    val cal = coalesce(lower(col("cf_calendar")), lit("standard"))
    val calStandard = cal.isin(standardCals: _*)
    val calFixed = cal.isin((fixedCals ++ julianCals): _*)
    val calJulian = cal.isin(julianCals: _*)
    // epoch seconds as double (timestamp→double cast is seconds.fraction);
    // microsecond-exact for any realistic coordinate magnitude
    val timeVal = (epochTs.cast("double") + decoded * unitSec).cast("timestamp")
    // julian-family FAST PATH (r10): a julian calendar date names a real
    // instant — shift the epoch by the julian-vs-Gregorian calendar offset
    // at that date (the difference of the two Julian Day Number formulas,
    // Richards' arithmetic: all operands positive, so floor == integer
    // division, and every term but the century correction cancels) and
    // offsets add uniformly from there. Built on the SAME `epochTs`
    // make_timestamp the standard path uses, so the julian `time` column
    // keeps identical session-timezone semantics (a non-UTC session
    // renders both calendars' wall clocks consistently). Filled alongside
    // the authoritative `time_cal` string whenever the instant lands
    // inside the year 1-9999 window Spark timestamps render cleanly;
    // outside it only the string carries (no overflow, no wrap).
    val jm  = g(2).cast("long")
    val ja  = floor((lit(14L) - jm) / 12).cast("long")
    val jy2 = g(1).cast("long") + 4800L - ja
    // jdn_julian - jdn_gregorian = floor(y'/100) - floor(y'/400) - 38
    val julianDeltaDays = floor(jy2 / 100).cast("long") -
      floor(jy2 / 400).cast("long") - 38L
    val julianSec = epochTs.cast("double") + julianDeltaDays.cast("double") * 86400.0 +
      decoded * unitSec
    val julianInRange = julianSec >= -62135596800.0 && julianSec <= 253402300799.0
    val julianTimeVal = julianSec.cast("timestamp")
    val timeCalVal = org.apache.spark.sql.GraftColumnBridge.column(
      CfCalendarDate(
        org.apache.spark.sql.GraftColumnBridge.expression(epochStr),
        org.apache.spark.sql.GraftColumnBridge.expression(decoded * unitSec),
        org.apache.spark.sql.GraftColumnBridge.expression(cal)))

    KerchunkIndex.decodeCoords(chunks, meta, dims)
      .join(broadcast(cf), Seq("variable"), "left")
      // dtype rides along for the _Unsigned width; one more tiny
      // broadcast, dropped again by the final select
      .join(broadcast(meta.select(col("variable"), col("dtype"))), Seq("variable"), "left")
      // loud refusals, evaluated per row inside the scan stage: a decode
      // that silently shifted every date (unknown calendar) or left a
      // time axis raw (unparseable unit/epoch) would be worse than failing
      .filter(coalesce(assert_true(!timeLike || calStandard || calFixed,
        concat(lit("CF variable '"), KerchunkIndex.shown(col("variable")), lit("' has calendar '"),
          col("cf_calendar"),
          lit("' — standard/gregorian/proleptic_gregorian decode to timestamps, " +
            "noleap/365_day/all_leap/366_day/360_day/julian/proleptic_julian " +
            "to calendar-date strings; anything else refuses"))),
        lit(true)))
      .filter(coalesce(assert_true(!timeLike || (unitSec.isNotNull && epochOk),
        concat(lit("CF variable '"), KerchunkIndex.shown(col("variable")), lit("' time units '"),
          col("cf_units"), lit("' did not parse as '<unit> since <datetime>'"))),
        lit(true)))
      .select(col("variable"), col("chunk"), col("idx"),
        decoded.as("value"),
        when(timeLike && calStandard && decoded.isNotNull, timeVal)
          .when(timeLike && calJulian && decoded.isNotNull && julianInRange, julianTimeVal)
          .otherwise(lit(null).cast("timestamp")).as("time"),
        when(timeLike && calFixed && decoded.isNotNull, timeCalVal)
          .otherwise(lit(null).cast("string")).as("time_cal"),
        col("dims"), col("coords"))
  }
}

/** Calendar-date formatting for the CF NON-INSTANT calendars — the fixed
  * family (noleap/365_day, all_leap/366_day, 360_day) and the julian
  * family (julian/proleptic_julian, leap every 4th year with no century
  * exception): `epochStr` (the CF `<datetime>` tail), plus
  * `offsetSeconds` since that epoch, to `yyyy-MM-dd HH:mm:ss` — each
  * calendar's own integer arithmetic, exact to the microsecond. The
  * relational analogue of xarray's cftime objects. Evaluates to null for
  * null offsets; throws on any other calendar (callers gate standard
  * calendars to the timestamp path). */
case class CfCalendarDate(epochStr: org.apache.spark.sql.catalyst.expressions.Expression,
                          offsetSeconds: org.apache.spark.sql.catalyst.expressions.Expression,
                          calendar: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types.{DataType, StringType, DoubleType}

  override def first: Expression = epochStr
  override def second: Expression = offsetSeconds
  override def third: Expression = calendar
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (epochStr.dataType == StringType && offsetSeconds.dataType == DoubleType &&
        calendar.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cf_calendar_date expects (string, double, string), got " +
        s"(${epochStr.dataType}, ${offsetSeconds.dataType}, ${calendar.dataType})")

  override def nullSafeEval(e: Any, off: Any, cal: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      CfCalendarDate.format(e.toString, off.asInstanceOf[Double], cal.toString))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode,
  ): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (e, off, cal) => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.sources.CfCalendarDate.format($e.toString(), $off, $cal.toString()));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(epochStr = f, offsetSeconds = s, calendar = t)
}

object CfCalendarDate {
  private val noleapMonths = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
  private val leapMonths   = Array(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
  private val epochRe =
    ("^(\\d{1,4})-(\\d{1,2})-(\\d{1,2})" +
      "(?:[ T](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}(?:[.]\\d+)?))?)?(?:\\s*(?:Z|UTC))?$").r

  private def monthsOf(calendar: String): (Array[Int], Long) = calendar match {
    case "noleap" | "365_day"   => (noleapMonths, 365L)
    case "all_leap" | "366_day" => (leapMonths, 366L)
    case "360_day"              => (Array.fill(12)(30), 360L)
    case other => throw new IllegalArgumentException(
      s"cf_calendar_date: calendar '$other' is not a fixed CF calendar")
  }

  private def isJulian(calendar: String): Boolean =
    calendar == "julian" || calendar == "proleptic_julian"
  // julian leap rule: every 4th year, NO century exception (1900-02-29
  // exists); cftime's 'julian' is already proleptic, so both spellings
  // share it. Year 0 is leap, so every 1461-day cycle from the year-0
  // origin starts with its leap year.
  private def julianMonths(year: Long): Array[Int] =
    if (year % 4 == 0) leapMonths else noleapMonths

  /** Static kernel, shared by interpreted and generated code. Exact in
    * MICROSECONDS: the fractional offset converts once to a rounded long
    * so repeated float error cannot shift a date across a boundary. */
  def format(epochStr: String, offsetSeconds: Double, calendar: String): String = {
    val julian = isJulian(calendar)
    val epochMonths0 = if (julian) null else monthsOf(calendar)._1
    val m = epochRe.findFirstMatchIn(epochStr.trim).getOrElse(
      throw new IllegalArgumentException(s"cf_calendar_date: unparseable epoch '$epochStr'"))
    def g(i: Int): String = Option(m.group(i)).getOrElse("")
    val ey = g(1).toLong; val em = g(2).toInt; val ed = g(3).toInt
    val eh = if (g(4).isEmpty) 0 else g(4).toInt
    val emi = if (g(5).isEmpty) 0 else g(5).toInt
    val es = if (g(6).isEmpty) 0.0 else g(6).toDouble
    val epochMonths = if (julian) julianMonths(ey) else epochMonths0
    require(em >= 1 && em <= 12 && ed >= 1 && ed <= epochMonths(em - 1),
      s"cf_calendar_date: epoch '$epochStr' is not a valid $calendar date")
    // days from the calendar's year-0 origin to the epoch date
    val epochDays =
      (if (julian) ey * 365L + (ey + 3) / 4 else ey * monthsOf(calendar)._2) +
        epochMonths.take(em - 1).map(_.toLong).sum + (ed - 1)
    val epochMicros = epochDays * 86400000000L + eh * 3600000000L +
      emi * 60000000L + math.round(es * 1e6)
    val total = epochMicros + math.round(offsetSeconds * 1e6)
    require(total >= 0, s"cf_calendar_date: offset $offsetSeconds reaches before year 0")
    val dayMicros = java.lang.Math.floorMod(total, 86400000000L)
    val days = java.lang.Math.floorDiv(total, 86400000000L)
    val (year, doy0, months) =
      if (julian) {
        // 4-year cycle of 1461 days; in-cycle year 0 is the leap year
        val cycle = days / 1461L
        val r = (days % 1461L).toInt
        val yic = if (r < 366) 0 else (r - 366) / 365 + 1
        val d = if (r < 366) r else (r - 366) % 365
        (cycle * 4 + yic, d, julianMonths(yic.toLong))
      } else {
        val yearDays = monthsOf(calendar)._2
        (days / yearDays, (days % yearDays).toInt, monthsOf(calendar)._1)
      }
    var doy = doy0
    var month = 0
    while (doy >= months(month)) { doy -= months(month); month += 1 }
    val secOfDay = (dayMicros / 1000000L).toInt // formatted output truncates micros
    f"$year%04d-${month + 1}%02d-${doy + 1}%02d " +
      f"${secOfDay / 3600}%02d:${secOfDay / 60 % 60}%02d:${secOfDay % 60}%02d"
  }
}
