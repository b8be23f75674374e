package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StructField}

import graft.catalog.EsmCatalog
import graft.derived.{DerivedVariable, DerivedVariableRegistry}

/** The intake-esm user's path: open a CMIP-style catalog, then a stream of
  * cycles of eight `search(...)` + `keys` ops (see [[CycleSearches]], in
  * seeded order) and one `toDatasetDict` load whose every returned frame is
  * consumed.
  *
  * Catalog: one row per asset, columns activity/institution/source/
  * experiment/table/member/variable/time_range, a python-literal `realm`
  * list, the path and the format. A group is (activity, institution,
  * source, experiment, table). Odd-numbered sources store parquet files and
  * their groups hold four assets in one of three shapes: 2 members x 2 time
  * ranges x 1 variable, 1 x 2 x 2 or 2 x 1 x 2, so a load exercises
  * join_new, join_existing and union. Even-numbered sources store zarr v2
  * directory stores (zlib chunks, read with `graft.kerchunk.decode=coords`)
  * and their groups hold 1 member x 2 time ranges x 1 variable. Only the
  * groups a load can pick (see [[LoadPool]]) have files on disk;
  * the rest of the catalog is searched, never loaded. Every value is a
  * multiple of 1/4, so checksums are exact in any order. */
final class EsmCatalogSession(ctx: Ctx) extends Workload {
  import EsmCatalogSession._

  private val nSources = if (ctx.opts.tiny) 4 else 60
  private val nt = 6
  private val ny = 4
  private val nx = 5
  private val base = Paths.get(ctx.inputs)
  private val descriptor = base.resolve("catalog.json").toString

  /** The generator's own record of every asset: the oracle's ground truth. */
  final case class Asset(attrs: Map[String, String], realm: Seq[String], rows: Long, sum: Double)

  private val sources = (0 until nSources).map(i => f"GCM-$i%02d")
  private def institution(s: Int) = f"INST-${s / 2}%02d"
  private def isZarr(s: Int) = s % 2 == 0

  /** The asset table, derived from the seed alone (values included). */
  private lazy val assets: Seq[Asset] = {
    val r = new scala.util.Random(ctx.opts.seed * 7919 + 17)
    for {
      (src, si) <- sources.zipWithIndex
      exp <- Experiments
      table <- Tables
      asset <- {
        val vars = TableVars(table)
        val (members, times, vs) =
          if (isZarr(si)) (Members.take(1), TimeRanges(exp), vars.take(1))
          else r.nextInt(3) match {
            case 0 => (Members, TimeRanges(exp), vars.take(1))
            case 1 => (Members.take(1), TimeRanges(exp), vars)
            case _ => (Members, TimeRanges(exp).take(1), vars)
          }
        for (m <- members; (tr, t0) <- times; v <- vs) yield {
          val id = s"$src.$exp.$table.$m.$v.$tr"
          val values = Array.fill(nt * ny * nx)((r.nextInt(801) - 400) / 4.0)
          val timeVals = Array.tabulate(nt)(t => (t0 + t).toDouble)
          val (path, fmt) =
            if (isZarr(si)) (base.resolve(s"zarr/$id.zarr").toString, "zarr")
            else (base.resolve(s"parquet/$v/asset=$id").toString, "parquet")
          if (si < LoadPool && Loadable.contains((exp, table))) pending += ((id, v, values, timeVals, path, fmt))
          val (rows, sum) =
            if (fmt == "zarr") ((nt * ny * nx + nt).toLong, values.sum + timeVals.sum)
            else ((nt * ny * nx).toLong, values.sum)
          Asset(Map(
            "activity_id" -> Activity(exp), "institution_id" -> institution(si),
            "source_id" -> src, "experiment_id" -> exp, "table_id" -> table,
            "member_id" -> m, "variable_id" -> v, "time_range" -> tr,
            "path" -> path, "format" -> fmt), Realms(table), rows, sum)
        }
      }
    } yield asset
  }
  private val pending = mutable.ArrayBuffer.empty[(String, String, Array[Double], Array[Double], String, String)]

  def generate(): Unit = {
    assets // forces the seeded values
    if (Files.exists(base.resolve("_READY"))) return
    deleteTree(base)
    Files.createDirectories(base)
    pending.filter(_._6 == "zarr").foreach { case (_, v, values, timeVals, path, _) =>
      writeZarr(Paths.get(path), v, values, timeVals)
    }
    // parquet assets: one directory holding one file per asset
    pending.filter(_._6 == "parquet").foreach { case (_, v, values, timeVals, path, _) =>
      Files.createDirectories(Paths.get(path))
      val rows = for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
        yield Seq[Any](timeVals(t).toLong, y, x, values((t * ny + y) * nx + x))
      ParquetFiles.write(s"$path/part-00000.parquet",
        s"message asset { required int64 time; required int32 lat; required int32 lon; required double $v; }",
        rows.iterator)
    }
    val cols = Seq("activity_id", "institution_id", "source_id", "experiment_id", "table_id",
      "member_id", "variable_id", "time_range", "realm", "path", "format")
    val csv = new StringBuilder(cols.mkString(",") + "\n")
    assets.foreach { a =>
      val realm = a.realm.map(x => s"'$x'").mkString("[", ", ", "]")
      csv ++= cols.map {
        case "realm" => "\"" + realm + "\""
        case c       => a.attrs(c)
      }.mkString(",") + "\n"
    }
    Files.write(base.resolve("catalog.csv"), csv.toString.getBytes(UTF_8))
    Files.write(Paths.get(descriptor), Descriptor.getBytes(UTF_8))
    Files.createFile(base.resolve("_READY"))
  }

  private def writeZarr(root: Path, v: String, values: Array[Double], timeVals: Array[Double]): Unit = {
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, bytes)
    }
    def zarray(shape: Seq[Int], chunks: Seq[Int]) =
      s"""{"chunks": ${chunks.mkString("[", ", ", "]")}, "compressor": {"id": "zlib", "level": 1}, """ +
        s""""dtype": "<f8", "fill_value": null, "filters": null, "order": "C", """ +
        s""""shape": ${shape.mkString("[", ", ", "]")}, "zarr_format": 2}"""
    put(".zgroup", """{"zarr_format": 2}""".getBytes(UTF_8))
    put(".zattrs", "{}".getBytes(UTF_8))
    put(s"$v/.zarray", zarray(Seq(nt, ny, nx), Seq(nt / 2, ny, nx)).getBytes(UTF_8))
    put(s"$v/.zattrs", """{"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]}""".getBytes(UTF_8))
    val half = nt / 2 * ny * nx
    put(s"$v/0.0.0", deflate(values.slice(0, half)))
    put(s"$v/1.0.0", deflate(values.slice(half, 2 * half)))
    put("time/.zarray", zarray(Seq(nt), Seq(nt)).getBytes(UTF_8))
    put("time/.zattrs", """{"_ARRAY_DIMENSIONS": ["time"]}""".getBytes(UTF_8))
    put("time/0", deflate(timeVals))
  }

  private def deflate(xs: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putDouble)
    val d = new java.util.zip.Deflater(1)
    d.setInput(bb.array()); d.finish()
    val out = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  // ------------------------------------------------------------ the program

  private var cat: EsmCatalog = _

  private def registry = new DerivedVariableRegistry().register(DerivedVariable(
    "tas_range", Map("variable_id" -> Seq("tasmax", "tasmin"), "table_id" -> "day"),
    df => df.withColumn("tas_range", org.apache.spark.sql.functions.col("tasmax") -
      org.apache.spark.sql.functions.col("tasmin"))))

  /** Open the catalog and list its keys (the asset table is scanned once). */
  def setup(): Unit =
    cat = ctx.tracer.span("catalog.open") {
      val c = EsmCatalog.open(ctx.spark, descriptor, registry,
        storageOptions = Map("graft.kerchunk.decode" -> "coords"))
      c.keys
      c
    }

  /** One whole cycle, not measured: after a cold start the first cycle's
    * load runs about a third slower than the later ones. */
  def warmup(): Unit = cycle()

  // ---------------------------------------------------------------- queries

  /** A search: the query, require_all_on, and whether it names a derived
    * variable. */
  final case class Search(kind: String, query: Map[String, Any], rao: Option[Seq[String]])

  private def makeSearch(kind: String, r: scala.util.Random): Search = {
    def pick[T](xs: Seq[T], n: Int) = r.shuffle(xs).take(n)
    kind match {
      case "exact" => Search(kind, Map("experiment_id" -> pick(Experiments, 1).head,
        "table_id" -> pick(Tables, 1).head), None)
      case "list" => Search(kind, Map("source_id" -> pick(sources, 3),
        "realm" -> pick(Seq("atmos", "ocean", "land"), 2), "member_id" -> Members.take(1)), None)
      case "wildcard" => Search(kind, Map("source_id" -> s"^GCM-${r.nextInt(nSources / 10 max 1)}[0-4]",
        "experiment_id" -> "ssp.*"), None)
      case "require_all_on" =>
        val t = pick(Tables, 1).head
        Search(kind, Map("experiment_id" -> Seq("historical", "ssp585"),
          "variable_id" -> TableVars(t).last, "table_id" -> t), Some(Seq("source_id")))
      case "derived" => Search(kind, Map("variable_id" -> "tas_range",
        "source_id" -> pick(sources, 2)), None)
    }
  }

  private def search(s: Search): Seq[String] =
    ctx.tracer.span("catalog.search") {
      val found = ctx.tracer.span(if (s.kind == "derived") "catalog.search.derived" else "catalog.search.query") {
        cat.search(s.query, s.rao)
      }
      ctx.tracer.built(found) // search() built the catalog; keys runs it
      found.keys
    }

  /** Oracle: the query evaluated over the generator's own records. Only the
    * wildcard kind's values are regexes (matched with `find`), which the
    * generator knows without asking the library. */
  private def expectedKeys(s: Search): Seq[String] = {
    def matches(a: Asset, q: Map[String, Any], regex: Boolean): Boolean = q.forall { case (c, v) =>
      val vals: Seq[Any] = v match { case xs: Seq[_] => xs; case x => Seq(x) }
      vals.exists { case x: String =>
        if (c == "realm") a.realm.contains(x)
        else if (regex) java.util.regex.Pattern.compile(x).matcher(a.attrs(c)).find()
        else a.attrs(c) == x
      }
    }
    var hits = assets.filter(matches(_, s.query, s.kind == "wildcard"))
    s.rao.foreach { rao =>
      val sub = s.query -- rao
      val want = sub.toSeq.sortBy(_._1).map { case (c, v) =>
        (c, (v match { case xs: Seq[_] => xs; case x => Seq(x) }).map(_.toString).distinct) }
      val need = want.map(_._2.size).product
      val ok = hits.groupBy(a => rao.map(a.attrs)).filter { case (_, as) =>
        as.map(a => want.map { case (c, _) => a.attrs(c) })
          .filter(t => t.zip(want).forall { case (x, (_, vs)) => vs.contains(x) })
          .distinct.size == need
      }.keySet
      hits = hits.filter(a => ok(rao.map(a.attrs)))
    }
    if (s.kind == "derived") {
      val q = Map("variable_id" -> Seq("tasmax", "tasmin"), "table_id" -> "day") ++ (s.query - "variable_id")
      val dep = assets.filter(matches(_, q, regex = false))
      hits = (hits ++ dep).distinct
    }
    hits.map(key).distinct.sorted
  }

  private def key(a: Asset): String = GroupBy.map(a.attrs).mkString(".")

  // ------------------------------------------------------------------ loads

  /** `g` groups of one loadable (experiment, table): one zarr group, the
    * rest parquet. */
  private def pickGroups(g: Int, r: scala.util.Random): Search = {
    val (zarr, parquet) = r.shuffle(sources.indices.take(LoadPool).toList).partition(isZarr)
    val srcs = (zarr.take(1) ++ parquet.take(g - 1)).map(sources)
    val (exp, table) = Loadable(r.nextInt(Loadable.size))
    Search("load", Map("source_id" -> srcs, "experiment_id" -> exp, "table_id" -> table), None)
  }

  private val Coords = Seq("member_id", "time", "lat", "lon", "variable", "coords")

  /** toDatasetDict + consume every frame; returns key -> (rows, checksum). */
  private def load(s: Search): Map[String, (Long, Double)] = {
    val sub = cat.search(s.query, s.rao)
    val dsets = ctx.tracer.span("catalog.to_dataset_dict")(sub.toDatasetDict(Coords))
    ctx.tracer.span("catalog.materialize") {
      dsets.map { case (k, df) => k -> consumeWithChecksum(df) }
    }
  }

  /** Consume every row of `df` through `toRdd.foreach`, counting rows and
    * summing the value columns on the way. */
  private def consumeWithChecksum(df: DataFrame): (Long, Double) = {
    val valueCols = df.schema.fields.zipWithIndex.collect {
      case (StructField(n, DoubleType, _, _), i) if n != "time" && n != "tas_range" => i
    }
    val rows = ctx.spark.sparkContext.longAccumulator
    val sum = ctx.spark.sparkContext.doubleAccumulator
    df.queryExecution.toRdd.foreach { r =>
      rows.add(1L)
      var s = 0.0
      valueCols.foreach(i => if (!r.isNullAt(i)) s += r.getDouble(i))
      sum.add(s)
    }
    (rows.value, sum.value)
  }

  private def expectedLoad(s: Search): Map[String, (Long, Double)] =
    assets.filter(a => s.query.forall { case (c, v) =>
      (v match { case xs: Seq[_] => xs; case x => Seq(x) }).contains(a.attrs(c)) })
      .groupBy(key).map { case (k, as) =>
        // zarr frames stack in long form; parquet frames outer-join the
        // variables, so a (member, time) row carries every variable once
        k -> (if (as.head.attrs("format") == "zarr") (as.map(_.rows).sum, as.map(_.sum).sum)
              else (as.map(a => (a.attrs("member_id"), a.attrs("time_range"))).distinct.size *
                (nt * ny * nx).toLong, as.map(_.sum).sum))
      }

  // ------------------------------------------------------------------- loop

  private var nCycle = 0
  private var planted = false

  def cycle(): Unit = {
    val r = new scala.util.Random(ctx.opts.seed * 31 + nCycle)
    val kinds = r.shuffle(CycleSearches)
    kinds.foreach { k =>
      val s = makeSearch(k, r)
      ctx.op(s"search_$k")(search(s)) { got =>
        val want = expectedKeys(s)
        if (got == want) None else Some(s"$k search ${s.query}: ${got.size} keys, want ${want.size}")
      }
    }
    val s = pickGroups(LoadSize, r)
    ctx.op("load", LoadSize.toDouble)(load(s)) { got0 =>
      val got = if (ctx.opts.plantFault && ctx.measuring && !planted) {
        planted = true
        got0.map { case (k, (n, c)) => k -> (n - 1, c) } // a dropped row
      } else got0
      val want = expectedLoad(s)
      if (got == want) None else Some(s"load of $LoadSize groups: got $got, want $want")
    }
    nCycle += 1
  }

  def setups: Int = 5
  def nominalCycleS: Double = 8.4
  def queryClasses: Seq[String] = SearchKinds.map(k => s"search_$k")
  def loadClasses: Seq[String] = Seq("load")
  /** Datasets loaded per second of load time. */
  def workPerSecond: Double =
    ctx.units("load") / (ctx.latencies("load").sum / 1000.0)
  def ownSpans: Set[String] = Set("catalog.search", "catalog.to_dataset_dict", "catalog.materialize")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

object EsmCatalogSession {
  val SearchKinds = Seq("exact", "list", "wildcard", "require_all_on", "derived")
  /** The searches of one cycle: the three plain kinds twice, the two kinds
    * that run extra jobs (require_all_on, derived) once, so the median
    * search falls inside the plain kinds' cluster rather than on its edge. */
  val CycleSearches = Seq("exact", "exact", "list", "list", "wildcard", "wildcard",
    "require_all_on", "derived")
  /** Groups per load: one zarr group and one parquet group. */
  val LoadSize = 2
  val Experiments = Seq("historical", "piControl", "ssp245", "ssp585")
  val Activity = Map("historical" -> "CMIP", "piControl" -> "CMIP",
    "ssp245" -> "ScenarioMIP", "ssp585" -> "ScenarioMIP")
  val TimeRanges: Map[String, Seq[(String, Int)]] = Map(
    "historical" -> Seq(("185001-189912", 1850), ("190001-194912", 1900)),
    "piControl" -> Seq(("000101-005012", 1), ("005101-010012", 51)),
    "ssp245" -> Seq(("201501-206412", 2015), ("206501-210012", 2065)),
    "ssp585" -> Seq(("201501-206412", 2015), ("206501-210012", 2065)))
  val Tables = Seq("Amon", "Omon", "Lmon", "day")
  val TableVars = Map("Amon" -> Seq("tas", "pr"), "Omon" -> Seq("tos", "sos"),
    "Lmon" -> Seq("mrso", "lai"), "day" -> Seq("tasmax", "tasmin"))
  val Realms = Map("Amon" -> Seq("atmos"), "Omon" -> Seq("ocean"),
    "Lmon" -> Seq("land"), "day" -> Seq("atmos", "land"))
  val Members = Seq("r1i1p1f1", "r2i1p1f1")
  /** Loads draw from the first `LoadPool` sources of the [[Loadable]]
    * (experiment, table) pairs; only those assets exist on disk. */
  val LoadPool = 12
  val Loadable = Seq(("historical", "Amon"), ("ssp585", "day"))
  val GroupBy = Seq("activity_id", "institution_id", "source_id", "experiment_id", "table_id")

  val Descriptor: String =
    """{
      |  "esmcat_version": "0.1.0",
      |  "id": "perfbench-cmip",
      |  "description": "seeded CMIP-style catalog for the perfbench esm_catalog_session workload",
      |  "catalog_file": "catalog.csv",
      |  "attributes": [
      |    {"column_name": "activity_id"}, {"column_name": "institution_id"},
      |    {"column_name": "source_id"}, {"column_name": "experiment_id"},
      |    {"column_name": "table_id"}, {"column_name": "member_id"},
      |    {"column_name": "variable_id"}, {"column_name": "time_range"},
      |    {"column_name": "realm"}
      |  ],
      |  "assets": {"column_name": "path", "format_column_name": "format"},
      |  "aggregation_control": {
      |    "variable_column_name": "variable_id",
      |    "groupby_attrs": ["activity_id", "institution_id", "source_id", "experiment_id", "table_id"],
      |    "aggregations": [
      |      {"type": "union", "attribute_name": "variable_id"},
      |      {"type": "join_existing", "attribute_name": "time_range", "options": {"dim": "time"}},
      |      {"type": "join_new", "attribute_name": "member_id", "options": {"coords": "minimal", "compat": "override"}}
      |    ]
      |  }
      |}
      |""".stripMargin
}
