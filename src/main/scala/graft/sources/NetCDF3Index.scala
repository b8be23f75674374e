package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** netCDF classic (CDF-1 / CDF-2 / CDF-5) container reader — the other half of the
  * reference's `netcdf` format dispatch (intake_esm/source.py:97-109) that
  * needs no external library: the classic format is a simple public
  * big-endian layout (magic `CDF\x01|\x02`, dim/attr/var tables, then flat
  * C-order variable slabs at recorded offsets).
  *
  * Spark-first shape: instead of a bespoke decode path, the HEADER is
  * translated into the same entry rows [[KerchunkIndex.read]] produces for
  * kerchunk indexes — synthesized `.zarray`/`.zattrs` metadata plus one
  * byte-range ref per chunk — so [[KerchunkIndex.materializeChunks]] /
  * `decodeTyped` / `decodeCoords` (positioned reads, offset-band
  * parallelism, typed decode, labeled coordinates) serve netCDF unchanged.
  * This mirrors what the kerchunk project itself does to netCDF3 files
  * (single-chunk refs per variable), re-expressed as a streaming header
  * parse in one executor task with a lazy chunk iterator — a 100k-record
  * file emits 100k ref rows without driver materialization.
  *
  * Layout facts used (netCDF classic format spec): all integers big-endian;
  * names are length-prefixed and 4-byte padded; attribute values 4-byte
  * padded; fixed variables live at `begin` as `prod(shape) * elemSize`
  * bytes; record variables interleave per record with stride
  * `recSize = Σ ceil4(slab)` (unpadded when there is exactly one record
  * variable); the record dimension (declared length 0) reports `numrecs`
  * entries. `vsize` from the file is IGNORED (it overflows past 2 GiB by
  * spec) — sizes are recomputed from the dimension lengths.
  *
  * CDF-5 promotes every size field to int64 and adds the unsigned/64-bit
  * types (ubyte/ushort/uint/int64/uint64) — all handled. Refused loudly:
  * HDF5-backed netCDF-4 (a different container — needs an external
  * connector) and files in streaming state (numrecs = STREAMING).
  */
object NetCDF3Index {

  private val NcDimension = 0x0a
  private val NcVariable  = 0x0b
  private val NcAttribute = 0x0c

  private def typeSize(t: Int): Int = t match {
    case 1 | 2    => 1 // byte, char
    case 3        => 2 // short
    case 4 | 5    => 4 // int, float
    case 6        => 8 // double
    case 7        => 1 // CDF-5 ubyte
    case 8        => 2 // CDF-5 ushort
    case 9        => 4 // CDF-5 uint
    case 10 | 11  => 8 // CDF-5 int64 / uint64
    case other => throw new IllegalArgumentException(s"netcdf3: unknown nc_type $other")
  }

  /** numpy dtype string for the synthesized `.zarray` (big-endian — the
    * classic format's only byte order; [[ZarrCodec]] decodes '>' natively).
    * `char` maps to `|S1`, which the typed decoder drops as non-numeric. */
  private def dtypeOf(t: Int): String = t match {
    case 1  => "|i1"
    case 2  => "|S1"
    case 3  => ">i2"
    case 4  => ">i4"
    case 5  => ">f4"
    case 6  => ">f8"
    case 7  => "|u1"
    case 8  => ">u2"
    case 9  => ">u4"
    case 10 => ">i8"
    case 11 => ">u8"
    case other => throw new IllegalArgumentException(s"netcdf3: unknown nc_type $other")
  }

  private final case class NcVar(name: String, dimids: Seq[Int], atts: List[(String, Any)],
                                 ncType: Int, begin: Long)
  private final case class Header(version: Int, numrecs: Long, dims: Vector[(String, Int)],
                                  gatts: List[(String, Any)], vars: Vector[NcVar])

  /** `version` drives the width of every NON_NEG field: CDF-1/2 use int32,
    * CDF-5 promotes them all (numrecs, nelems, name lengths, dim lengths,
    * dimids, attr counts, vsize) to int64; tags and nc_type stay int32, and
    * `begin` is int64 for both CDF-2 and CDF-5 (pnetcdf CDF-5 spec). */
  private final class Parser(in: java.io.DataInputStream, version: Int) {
    private var pos = 0L
    def i32(): Int = { pos += 4; in.readInt() }
    def i64(): Long = { pos += 8; in.readLong() }
    def bytes(n: Int): Array[Byte] = {
      val a = new Array[Byte](n); in.readFully(a); pos += n; a
    }
    def nonNeg(): Long = if (version == 5) i64() else i32().toLong
    /** CDF-5 sizes are int64 but this reader's in-memory model (and a local
      * test rig) is Int-bounded — a silently wrapped length would
      * misclassify record variables (2^32 → 0 = the record sentinel) or go
      * negative, so refuse loudly instead. */
    def nonNegInt(what: String): Int = {
      val v = nonNeg()
      require(v >= 0 && v <= Int.MaxValue, s"netcdf3: $what $v exceeds the supported 2^31-1")
      v.toInt
    }
    def pad(): Unit = { val r = ((4 - (pos % 4)) % 4).toInt; if (r > 0) bytes(r) }
    def name(): String = {
      val n = nonNegInt("name length"); val s = new String(bytes(n), "UTF-8"); pad(); s
    }

    /** attribute list → (name, value) with scala values (String or
      * List[Number]) ready for JSON rendering */
    def atts(): List[(String, Any)] = {
      val tag = i32(); val n = nonNeg()
      require((tag == NcAttribute && n >= 0) || (tag == 0 && n == 0),
        s"netcdf3: malformed attribute list (tag 0x${tag.toHexString}, n $n)")
      (0L until n).map { _ =>
        val nm = name(); val t = i32(); val ne = nonNegInt("attribute count")
        val v: Any = t match {
          case 2 => new String(bytes(ne), "ISO-8859-1")
          case 1 => bytes(ne).map(_.toLong).toList
          case 3 => (0 until ne).map(_ => { val s = bytes(2); (((s(0) << 8) | (s(1) & 0xff))).toLong }).toList
          case 4 => (0 until ne).map(_ => i32().toLong).toList
          case 5 => (0 until ne).map(_ => java.lang.Float.intBitsToFloat(i32()).toDouble).toList
          case 6 => (0 until ne).map(_ => java.lang.Double.longBitsToDouble(i64())).toList
          case 7 => bytes(ne).map(b => (b & 0xff).toLong).toList
          case 8 => (0 until ne).map(_ => { val s = bytes(2); (((s(0) & 0xff) << 8) | (s(1) & 0xff)).toLong }).toList
          case 9 => (0 until ne).map(_ => i32().toLong & 0xffffffffL).toList
          case 10 => (0 until ne).map(_ => i64()).toList
          // uint64: values past 2^63-1 must surface unsigned (BigInt), not
          // sign-wrapped — a _FillValue of 2^64-1 rendered as -1 could never
          // match the (correctly widened) data
          case 11 => (0 until ne).map { _ =>
            val l = i64(); if (l >= 0) BigInt(l) else BigInt(l) + (BigInt(1) << 64)
          }.toList
          case other => throw new IllegalArgumentException(s"netcdf3: unknown attr nc_type $other")
        }
        pad()
        nm -> v
      }.toList
    }
  }

  private def parseHeader(in: java.io.DataInputStream): Header = {
    val magicIn = new Array[Byte](4)
    in.readFully(magicIn)
    require(java.util.Arrays.copyOf(magicIn, 3).sameElements("CDF".getBytes("US-ASCII")),
      "netcdf3: not a classic netCDF file (missing CDF magic) — netCDF-4/HDF5 " +
        "containers are behind the connector boundary")
    val version = magicIn(3) & 0xff
    require(version == 1 || version == 2 || version == 5,
      s"netcdf3: unknown format version $version")
    val p = new Parser(in, version)
    val numrecs = p.nonNeg()
    // STREAMING sentinel: 0xFFFFFFFF reads as -1 through the i32 path and
    // 0xFF..FF as -1 through the i64 path alike
    if (numrecs == -1L) throw new UnsupportedOperationException(
      "netcdf3: file is in streaming state (numrecs = STREAMING) — refusing a moving target")
    val dTag = p.i32(); val nDims = p.nonNeg()
    require((dTag == NcDimension && nDims >= 0) || (dTag == 0 && nDims == 0),
      s"netcdf3: malformed dimension list (tag 0x${dTag.toHexString})")
    val dims  = (0L until nDims).map(_ => (p.name(), p.nonNegInt("dimension length"))).toVector
    val gatts = p.atts()
    val vTag = p.i32(); val nVars = p.nonNeg()
    require((vTag == NcVariable && nVars >= 0) || (vTag == 0 && nVars == 0),
      s"netcdf3: malformed variable list (tag 0x${vTag.toHexString})")
    val vars = (0L until nVars).map { _ =>
      val nm = p.name()
      val nd = p.nonNegInt("variable rank")
      val dimids = (0 until nd).map(_ => p.nonNegInt("dimension id"))
      val va = p.atts()
      val t  = p.i32()
      p.nonNeg() // vsize: per spec unreliable past 2 GiB — recomputed from dims
      val begin = if (version >= 2) p.i64() else p.i32().toLong
      NcVar(nm, dimids, va, t, begin)
    }.toVector
    Header(version, numrecs, dims, gatts, vars)
  }

  private def jsonOf(v: Any): org.json4s.JValue = {
    import org.json4s.JsonDSL._
    import org.json4s._
    v match {
      case s: String => JString(s)
      case xs: List[_] =>
        val vals = xs.map {
          case l: Long   => JLong(l): JValue
          case b: BigInt => JInt(b): JValue // uint64 attrs past 2^63-1
          case d: Double =>
            // NaN/Inf are not JSON — render as strings like numcodecs does
            if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
          case other => JString(String.valueOf(other))
        }
        if (vals.length == 1) vals.head else JArray(vals)
      case other => JString(String.valueOf(other))
    }
  }

  /** Driver-side 4-byte container sniff for dispatch-time fail-fast:
    * "cdf" (classic, parseable here), "hdf5" (netCDF-4 — external
    * connector), or "unknown". Schemes with no installed Hadoop FileSystem
    * refuse with the connector-boundary message. */
  def sniff(spark: SparkSession, path: String,
            storageOptions: Map[String, String] = Map.empty): String = {
    val conf = FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions)
    // tar-archived assets (source.py:94-95 via fsspec chaining): sniff the
    // member's first bytes inside the archive, no extraction
    val (real, base, _) =
      if (TarMember.isTarUrl(path)) TarMember.locate(path, conf) else (path, 0L, 0L)
    val hPath = FsPaths.hadoopPath(real)
    val magic = new Array[Byte](4)
    try {
      val fs = FsPaths.fileSystemFor(hPath, conf)
      val in = fs.open(hPath)
      try in.readFully(base, magic) finally in.close()
    } catch {
      case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
        FsPaths.connectorRefusal(path, e)
    }
    if (magic.startsWith("CDF".getBytes("US-ASCII"))) "cdf"
    else if (magic.sameElements(Array(0x89.toByte, 'H'.toByte, 'D'.toByte, 'F'.toByte))) "hdf5"
    else "unknown"
  }

  /** One netCDF classic file → kerchunk-shaped entry rows (same schema as
    * [[KerchunkIndex.read]]): `.zgroup`/`.zarray`/`.zattrs` meta entries
    * plus one `ref` row per chunk. Runs as ONE Spark task with a lazy
    * iterator, so huge record counts stream straight into the downstream
    * shuffle. */
  def read(spark: SparkSession, path: String,
           storageOptions: Map[String, String] = Map.empty): DataFrame =
    readMany(spark, Seq(path), storageOptions)

  /** Collection-scale variant (same contract as [[Hdf5Index.readMany]]):
    * one distributed job parses MANY classic files' headers, one task per
    * file up to the session parallelism. Entry keys stay file-relative;
    * drive the downstream decode per file. */
  def readMany(spark: SparkSession, paths: Seq[String],
               storageOptions: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val hconf = FsPaths.broadcastConf(spark, storageOptions)
    val parts = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    val seed  = spark.createDataset(paths)
    val spread = if (paths.size <= 1) seed else seed.repartition(parts)
    val ds = spread.mapPartitions { it =>
      it.flatMap { p =>
        // tar members read at their base offset; refs point into the archive
        val (real, base, _) =
          if (TarMember.isTarUrl(p)) TarMember.locate(p, hconf.value.value) else (p, 0L, 0L)
        val hPath = FsPaths.hadoopPath(real)
        val fs = FsPaths.fileSystemFor(hPath, hconf.value.value)
        val header = {
          val raw = fs.open(hPath)
          if (base > 0) raw.seek(base)
          val in = new java.io.DataInputStream(new java.io.BufferedInputStream(raw))
          try parseHeader(in) finally in.close()
        }
        entriesOf(header, real, base)
      }
    }
    ds.toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
  }

  /** Header → entry rows. Exposed shape:
    * (key, variable, member, kind, url, offset, length, inline_value).
    * `base` shifts every data offset — nonzero when the container sits
    * inside a tar archive and `url` is the archive itself. */
  private def entriesOf(h: Header, url: String, base: Long)
      : Iterator[(String, String, String, String, String, Option[Long], Option[Long], String)] = {
    import org.json4s.jackson.JsonMethods.{compact, render}
    import org.json4s.JsonDSL._
    import org.json4s._

    val recordVars = h.vars.filter(v => v.dimids.headOption.exists(d => h.dims(d)._2 == 0))
    // per-record slab stride: Σ of each record var's 4-padded slab — unless
    // there is exactly one record variable, which the spec leaves unpadded
    def slabBytes(v: NcVar): Long =
      v.dimids.drop(1).map(d => h.dims(d)._2.toLong).product * typeSize(v.ncType)
    val recSize: Long =
      if (recordVars.size == 1) slabBytes(recordVars.head)
      else recordVars.map(v => (slabBytes(v) + 3) / 4 * 4).sum

    val group = Iterator((".zgroup", "", ".zgroup", "meta", null: String,
      None: Option[Long], None: Option[Long], """{"zarr_format": 2}"""))

    // root .zattrs: the file's global attributes, plus the record (UNLIMITED)
    // dimension surfaced as `_graft_unlimited_dims` — multi-file (glob)
    // opens concatenate along it, the same role xarray's open_mfdataset
    // gives the record dim (source.py:102-107)
    val rootAttrs: Iterator[(String, String, String, String, String, Option[Long], Option[Long], String)] = {
      val fields = h.gatts.map { case (k, value) => JField(k, jsonOf(value)) } ++
        h.dims.collectFirst { case (nm, 0) =>
          JField("_graft_unlimited_dims", JArray(List(JString(nm))))
        }
      if (fields.isEmpty) Iterator.empty
      else Iterator((".zattrs", "", ".zattrs", "meta", null: String,
        None: Option[Long], None: Option[Long], compact(render(JObject(fields)))))
    }

    val perVar = h.vars.iterator.flatMap { v =>
      val isRecord = v.dimids.headOption.exists(d => h.dims(d)._2 == 0)
      // scalar variables present as shape [1] (zarr's [] shape would make
      // the downstream coord math degenerate for no benefit)
      val shape: Seq[Long] =
        if (v.dimids.isEmpty) Seq(1L)
        else v.dimids.map(d => if (h.dims(d)._2 == 0) h.numrecs else h.dims(d)._2.toLong)
      val chunks: Seq[Long] = if (isRecord) 1L +: shape.drop(1) else shape
      val dimNames: Seq[String] =
        if (v.dimids.isEmpty) Seq(v.name) else v.dimids.map(d => h.dims(d)._1)
      val zarray: JValue =
        ("zarr_format" -> 2) ~ ("dtype" -> dtypeOf(v.ncType)) ~
          ("shape" -> shape) ~ ("chunks" -> chunks) ~
          ("compressor" -> JNull) ~ ("filters" -> JNull) ~ ("order" -> "C")
      val zattrs: JValue = JObject(
        v.atts.map { case (k, value) => JField(k, jsonOf(value)) } :+
          JField("_ARRAY_DIMENSIONS", JArray(dimNames.map(JString(_)).toList)))
      val meta = Iterator(
        (s"${v.name}/.zarray", v.name, ".zarray", "meta", null: String,
          None: Option[Long], None: Option[Long], compact(render(zarray))),
        (s"${v.name}/.zattrs", v.name, ".zattrs", "meta", null: String,
          None: Option[Long], None: Option[Long], compact(render(zattrs))))
      val data: Iterator[(String, String, String, String, String, Option[Long], Option[Long], String)] =
        if (isRecord) {
          val slab = slabBytes(v)
          val zeros = Seq.fill(math.max(chunks.size - 1, 0))("0")
          (0L until h.numrecs).iterator.map { r =>
            val member = (r.toString +: zeros).mkString(".")
            (s"${v.name}/$member", v.name, member, "ref", url,
              Some(base + v.begin + r * recSize), Some(slab), null: String)
          }
        } else {
          val member = Seq.fill(chunks.size)("0").mkString(".")
          val len    = shape.product * typeSize(v.ncType)
          Iterator((s"${v.name}/$member", v.name, member, "ref", url,
            Some(base + v.begin), Some(len), null: String))
        }
      meta ++ data
    }
    group ++ rootAttrs ++ perVar
  }
}
