package graft.sources

import java.net.{HttpURLConnection, URL}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Native DAP2 (OPeNDAP) client — the one reference `DataFormat` that had no
  * in-engine path (cat.py:56-64; dispatch source.py:70-137, where the
  * reference hands the url to xarray's pydap engine). Implemented from the
  * PUBLIC protocol specs only: DAP 2.0 (ESE-RFC-004.1.1) for the DDS/DAS
  * grammar and the `.dods` response framing, and XDR (RFC 4506) for the
  * binary array encoding.
  *
  * Spark-first shape: the driver fetches the tiny `.dds`/`.das` documents
  * once (HttpFetch cache) and synthesizes the SAME chunk-map entry plane
  * every other container source emits (`.zgroup`/`.zarray`/`.zattrs` meta
  * rows + `ref` rows — NetCDF3Index/Hdf5Index/ZarrDirectoryIndex parity),
  * so downstream typed/coords decoding is the shared KerchunkIndex
  * machinery, unchanged. Each `ref` row's url is a `.dods` request with a
  * DAP hyperslab constraint (`?var[lo:hi][0:k-1]...`) covering one band of
  * rows along the first dimension — projection AND selection pushed to the
  * server, the protocol's own scale path. Bands fetch in parallel executor
  * tasks ([[materialize]]); at 100 TB this is thousands of concurrent
  * range-shaped requests, never one giant download.
  *
  * XDR wire mapping (RFC 4506 §4.19 fixed-length array: two big-endian
  * uint32 counts, then elements):
  *   - Byte    → packed bytes, zero-padded to a 4-byte boundary → `|u1`
  *   - Int16/UInt16 → promoted on the wire to 4-byte ints → `>i4`/`>u4`
  *   - Int32/UInt32 → 4-byte big-endian → `>i4`/`>u4`
  *   - Float32/Float64 → IEEE big-endian → `>f4`/`>f8`
  * so a stripped payload IS a valid big-endian zarr chunk.
  *
  * String/Url ARRAYS (r11 — coordinate labels on real ESM servers, e.g.
  * station names) decode through their own plane: the DDS declares them
  * normally, `read` emits a `|O`-dtyped meta row (numpy's object dtype —
  * what zarr v2 uses for vlen strings; the numeric decode path skips it
  * by design) plus ONE un-banded ref per variable (label vectors are
  * dimension-table sized; their wire length is data-dependent, so row
  * banding cannot be presized), and [[decodeLabels]] parses the XDR
  * string block into (variable, dims, coords, label) rows. Wire
  * convention: a DAP2 String array carries its element count ONCE, then
  * RFC 4506 §4.11 counted strings (length word + bytes + pad-to-4) —
  * libdap and pydap both serialize string vectors this way; the doubled
  * count is the NUMERIC array quirk. Structures flatten to dotted names
  * (r12); Sequences decode to tidy rows (r13, [[decodeSequences]]),
  * including nested Sequence members at ANY depth (r14 one level, r15
  * full recursion — each level explodes under one more coords slot, the
  * pydap nesting surface), Sequences inside Structures (r15 —
  * decoded under their dotted names), and ARRAY members inside
  * Sequences (r16 — the in-situ profile shape: a fixed-geometry vector
  * per record, exploded under (record, element…) coords; numeric
  * arrays carry the doubled count word inside records exactly as at
  * top level, String arrays the count-once form). Still refused
  * loudly: arrays of Structures/Sequences.
  */
object Dap2Index {

  /** One DDS array declaration: `Float64 sst[time = 10][lat = 5];`. */
  /** `maps` is non-empty only for a Grid's array variable: the names of
    * its coordinate map vectors, in declaration order — the association
    * pydap surfaces as `GridType.maps` and xarray as the CF `coordinates`
    * attribute. */
  final case class DapVar(name: String, dapType: String, dims: Seq[(String, Long)],
                          maps: Seq[String] = Nil)

  /** Member tree of one Sequence level: `members` are (name, dapType)
    * pairs in declaration order; a member of dapType `"Sequence"` is a
    * nested Sequence whose own tree lives in `nested` under the member
    * name — RECURSIVE since r15 (r14 allowed exactly one level), so the
    * full pydap nesting surface parses. An ARRAY member (r16 — the
    * in-situ profile shape: a fixed-geometry vector per record) keeps
    * its atomic dapType in `members` and carries its declared dims in
    * `arrays` under the member name. */
  final case class SeqBody(members: Seq[(String, String)],
                           nested: Map[String, SeqBody] = Map.empty,
                           arrays: Map[String, Seq[(String, Long)]] = Map.empty)

  /** `Sequence { <members> } name;` (r13): row-structured data —
    * in-situ/observational feeds — whose record count is data-dependent
    * (no fixed geometry, so no `.zarray` plane). Nested Sequence members
    * recurse to ANY depth, a Structure-wrapped Sequence carries its
    * dotted name (both r15 — each level of [[decodeSequences]]'s walk
    * explodes under one more coords slot), and ARRAY members decode
    * per-record under (record, element…) coords (r16). Still refusing
    * loudly: arrays OF Sequences — the one shape left without a row
    * form. */
  final case class DapSeq(name: String, members: Seq[(String, String)],
                          nested: Map[String, SeqBody] = Map.empty,
                          arrays: Map[String, Seq[(String, Long)]] = Map.empty) {
    def body: SeqBody = SeqBody(members, nested, arrays)
  }

  final case class Dds(datasetName: String, vars: Seq[DapVar],
                       seqs: Seq[DapSeq] = Nil)

  private val atomicTypes =
    Set("Byte", "Int16", "UInt16", "Int32", "UInt32", "Float32", "Float64")

  /** zarr dtype for the STRIPPED wire payload (see wire mapping above). */
  private[graft] def zarrDtype(dapType: String): String = dapType match {
    case "Byte"              => "|u1"
    case "Int16" | "Int32"   => ">i4"
    case "UInt16" | "UInt32" => ">u4"
    case "Float32"           => ">f4"
    case "Float64"           => ">f8"
    case other => throw new UnsupportedOperationException(
      s"DAP2 type '$other' has no numeric array mapping (String/Url/Structure/" +
        "Sequence are outside the array plane)")
  }

  /** Bytes ONE element occupies on the wire (after the two count words). */
  private[graft] def wireElemSize(dapType: String): Long = dapType match {
    case "Byte"                                   => 1L
    case "Int16" | "UInt16" | "Int32" | "UInt32" | "Float32" => 4L
    case "Float64"                                => 8L
    case other => throw new UnsupportedOperationException(s"DAP2 type '$other' unsupported")
  }

  // ------------------------------------------------------------------ DDS

  private val declRe =
    """(?s)\s*(\w+)\s+([\w.-]+)((?:\s*\[[^\]]*\])*)\s*;""".r
  private val dimRe = """\[\s*(?:([\w.-]+)\s*=\s*)?(\d+)\s*\]""".r

  /** Parse the DDS grammar subset the array plane supports: atomic-typed
    * arrays, `Grid { Array: ...; Maps: ...; } name;` flattened to its
    * array + map vectors (how pydap/xarray surface a Grid: the array is
    * the variable, the maps are its coordinates), and `Structure { ... }
    * name;` containers FLATTENED to dotted member names (pydap semantics,
    * the reference's opendap path, source.py:85-90) — `Structure { Int32
    * a[..]; } s;` surfaces as variable `s.a`, and the dotted name doubles
    * as the DAP2 projection for its data request. Grids inside a
    * Structure keep the flat-Grid convention: the array takes the dotted
    * name, its map vectors surface under their own map names (the same
    * xarray-style presentation the top-level Grid path uses). Sequences
    * (row-structured, no fixed geometry) parse into [[Dds.seqs]] — at top
    * level or Structure-wrapped under their dotted names (r15); arrays OF
    * Structures/Sequences refuse loudly. */
  def parseDds(text: String): Dds = {
    val body = text.trim
    require(body.startsWith("Dataset"),
      s"not a DDS document (expected 'Dataset {...} name;'): ${body.take(80)}")
    val open  = body.indexOf('{')
    val close = body.lastIndexOf('}')
    require(open >= 0 && close > open, "malformed DDS: missing braces")
    val datasetName = body.substring(close + 1).trim.stripSuffix(";").trim
    val inner = body.substring(open + 1, close)
    val vars = scala.collection.mutable.ArrayBuffer.empty[DapVar]
    val seqs = scala.collection.mutable.ArrayBuffer.empty[DapSeq]
    parseVars(inner, "", vars, seqs)
    Dds(datasetName, vars.toSeq, seqs.toSeq)
  }

  private def parseVars(inner: String, prefix: String,
                        vars: scala.collection.mutable.ArrayBuffer[DapVar],
                        seqs: scala.collection.mutable.ArrayBuffer[DapSeq]): Unit = {
    var rest = inner
    while (rest.trim.nonEmpty) {
      val t = rest.trim
      if (t.startsWith("Grid")) {
        // Grid { ARRAY: <decl> MAPS: <decls> } name;
        val gOpen = t.indexOf('{')
        val gClose = matchingBrace(t, gOpen)
        val gridBody = t.substring(gOpen + 1, gClose)
        val afterBrace = t.substring(gClose + 1)
        val semi = afterBrace.indexOf(';')
        require(semi >= 0, "malformed Grid: missing trailing ';'")
        val gridName = prefix + afterBrace.substring(0, semi).trim
        val sections = gridBody.split("(?i)(?:ARRAY|MAPS)\\s*:").filter(_.trim.nonEmpty)
        require(sections.length == 2, s"Grid '$gridName' needs ARRAY and MAPS sections")
        val mapVars = parseDecls(sections(1))
        val arrayVar = parseDecls(sections(0)) match {
          case Seq(one) => one.copy(name = gridName, maps = mapVars.map(_.name))
          case other => throw new IllegalArgumentException(
            s"Grid '$gridName' ARRAY section must hold exactly one declaration, got ${other.size}")
        }
        vars += arrayVar
        mapVars.foreach { m =>
          vars.find(_.name == m.name) match {
            case None => vars += m
            // shared coordinate: two grids referencing the same map name
            // must agree on its geometry — silently aliasing the first
            // one's shape would mis-address the second grid's coordinates
            case Some(existing) =>
              require(existing.dapType == m.dapType && existing.dims == m.dims,
                s"DAP2 map '${m.name}' re-declared with different geometry: " +
                  s"${existing.dapType}${existing.dims} vs ${m.dapType}${m.dims} — " +
                  "same-named maps of different grids must agree (they surface " +
                  "as ONE coordinate variable)")
          }
        }
        rest = afterBrace.substring(semi + 1)
      } else if (t.startsWith("Structure")) {
        // Structure { <members> } name; → members flatten to `name.member`
        val sOpen = t.indexOf('{')
        val sClose = matchingBrace(t, sOpen)
        val structBody = t.substring(sOpen + 1, sClose)
        val afterBrace = t.substring(sClose + 1)
        val semi = afterBrace.indexOf(';')
        require(semi >= 0, "malformed Structure: missing trailing ';'")
        val structName = afterBrace.substring(0, semi).trim
        require(!structName.contains('['),
          s"DAP2 array-of-Structures '$structName' has no flat-variable form " +
            "— outside the array plane")
        require(structName.nonEmpty, "malformed Structure: missing name")
        parseVars(structBody, s"$prefix$structName.", vars, seqs)
        rest = afterBrace.substring(semi + 1)
      } else if (t.startsWith("Sequence")) {
        // Sequence { <members> } name; → row-structured records (r13);
        // nested Sequence members recurse to any depth (r15), and a
        // Sequence inside a STRUCTURE decodes under its dotted name
        // (r15 — Structures add no wire framing, so the `?struct.seq`
        // projection answers the same record stream a top-level
        // Sequence would; pydap's surface). Array MEMBERS decode
        // per-record (r16). Arrays OF Sequences are a PERMANENT
        // DOCUMENTED REFUSAL (decided r17): the DAP 2.0 spec frames a
        // Sequence by start-of-instance/end-of-sequence markers with no
        // count, and defines NO wire framing for an ARRAY of such
        // streams — implementing one would mean inventing non-public
        // wire semantics; pydap itself has no decode path for the
        // shape, and real servers do not emit it (DDS surveys show
        // Grids/Structures/Sequences only). A dataset declaring one
        // refuses loudly at parse, never mis-addresses.
        val qOpen = t.indexOf('{')
        val qClose = matchingBrace(t, qOpen)
        val seqBody = t.substring(qOpen + 1, qClose)
        val afterBrace = t.substring(qClose + 1)
        val semi = afterBrace.indexOf(';')
        require(semi >= 0, "malformed Sequence: missing trailing ';'")
        val seqName = afterBrace.substring(0, semi).trim
        require(seqName.nonEmpty, "malformed Sequence: missing name")
        require(!seqName.contains('['),
          s"DAP2 array-of-Sequences '$prefix$seqName' has no row form — refusing")
        val sBody = parseSeqMembers(prefix + seqName, seqBody)
        require(sBody.members.nonEmpty,
          s"DAP2 Sequence '$prefix$seqName' has no members")
        seqs += DapSeq(prefix + seqName, sBody.members, sBody.nested, sBody.arrays)
        rest = afterBrace.substring(semi + 1)
      } else {
        declRe.findPrefixMatchOf(t) match {
          case Some(m) =>
            vars ++= parseDecl(m.group(1), prefix + m.group(2), m.group(3))
            rest = t.substring(m.end)
          case None =>
            throw new IllegalArgumentException(s"unparseable DDS declaration at: ${t.take(80)}")
        }
      }
    }
  }

  /** Parse a Sequence body's member declarations. Members parse by
    * TOKEN, never by substring sniffing: a scalar named 'GridRef' is
    * legal, while a container member is caught by its leading keyword
    * token regardless of spacing. A `Sequence { … } inner;` member is
    * accepted at any declaration position and RECURSES to any depth
    * (r15 — the full pydap nesting surface): it lands in `members` as
    * `(innerName, "Sequence")` with its own tree in the returned
    * [[SeqBody]]'s `nested`. */
  private def parseSeqMembers(path: String, body: String): SeqBody = {
    val containerRe = """^(Sequence|Structure|Grid)\b""".r
    val members = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val nested = scala.collection.mutable.LinkedHashMap.empty[String, SeqBody]
    val arrays = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Long)]]
    var mRest = body
    while (mRest.trim.nonEmpty) {
      val mt = mRest.trim
      containerRe.findPrefixMatchOf(mt) match {
        case Some(cm) if cm.group(1) == "Sequence" =>
          val nOpen = mt.indexOf('{')
          val nClose = matchingBrace(mt, nOpen)
          val nBody = mt.substring(nOpen + 1, nClose)
          val nAfter = mt.substring(nClose + 1)
          val nSemi = nAfter.indexOf(';')
          require(nSemi >= 0, "malformed Sequence: missing trailing ';'")
          val innerName = nAfter.substring(0, nSemi).trim
          require(innerName.nonEmpty, "malformed Sequence: missing name")
          require(!innerName.contains('['),
            s"DAP2 array-of-Sequences '$path.$innerName' has no row form — refusing")
          require(!nested.contains(innerName) && !members.exists(_._1 == innerName),
            s"DAP2 Sequence '$path' re-declares member '$innerName'")
          val innerBody = parseSeqMembers(s"$path.$innerName", nBody)
          require(innerBody.members.nonEmpty,
            s"DAP2 Sequence '$path.$innerName' has no members")
          members += ((innerName, "Sequence"))
          nested += innerName -> innerBody
          mRest = nAfter.substring(nSemi + 1)
        case Some(cm) =>
          throw new IllegalArgumentException(
            s"DAP2 Sequence '$path' holds a ${cm.group(1)} container member — " +
              "only scalar atomic/String members decode to rows")
        case None => declRe.findPrefixMatchOf(mt) match {
          case Some(m) =>
            val (tpe, mName, dimsText) = (m.group(1), m.group(2), m.group(3))
            require(atomicTypes.contains(tpe) || stringTypes.contains(tpe),
              s"unknown DAP2 type '$tpe' for Sequence member '$path.$mName'")
            // the DECLARED brackets decide scalar-vs-array (r16: array
            // members decode per-record — their XDR count words are part
            // of the record walk; a `[1]` array is still an ARRAY on the
            // wire). An unnamed dim takes the member's name — the
            // parseDecl convention.
            if (dimsText != null && dimsText.trim.nonEmpty) {
              val dims = dimRe.findAllMatchIn(dimsText).map { dm =>
                val nm = Option(dm.group(1)).getOrElse(mName)
                val sz = dm.group(2).toLong
                require(sz >= 1,
                  s"DAP2 Sequence array member '$path.$mName' declares " +
                    s"dim '$nm' of size $sz")
                (nm, sz)
              }.toSeq
              require(dims.nonEmpty,
                s"DAP2 Sequence member '$path.$mName' has malformed dims: $dimsText")
              arrays += mName -> dims
            }
            members += ((mName, tpe))
            mRest = mt.substring(m.end)
          case None => throw new IllegalArgumentException(
            s"unparseable Sequence member declaration at: ${mt.take(80)}")
        }
      }
    }
    SeqBody(members.toSeq, nested.toMap, arrays.toMap)
  }

  private def matchingBrace(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return i
        case _   => ()
      }
      i += 1
    }
    throw new IllegalArgumentException("malformed DDS: unbalanced braces")
  }

  private def parseDecls(s: String): Seq[DapVar] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[DapVar]
    var rest = s
    while (rest.trim.nonEmpty) {
      val t = rest.trim
      declRe.findPrefixMatchOf(t) match {
        case Some(m) =>
          out ++= parseDecl(m.group(1), m.group(2), m.group(3))
          rest = t.substring(m.end)
        case None =>
          throw new IllegalArgumentException(s"unparseable DDS declaration at: ${t.take(80)}")
      }
    }
    out.toSeq
  }

  /** String/Url label vectors are first-class since r11 (decodeLabels). */
  private val stringTypes = Set("String", "Url")

  private def parseDecl(tpe: String, name: String, dimsText: String): Seq[DapVar] = {
    require(atomicTypes.contains(tpe) || stringTypes.contains(tpe),
      s"unknown DAP2 type '$tpe' for '$name'")
    val dims = dimRe.findAllMatchIn(dimsText).map { m =>
      (Option(m.group(1)).getOrElse(name), m.group(2).toLong)
    }.toSeq
    // a dimensionless declaration is a scalar — shape [1], like the netCDF
    // plane's scalar presentation
    Seq(DapVar(name, tpe, if (dims.isEmpty) Seq(name -> 1L) else dims))
  }

  // ------------------------------------------------------------------ DAS

  private val attrRe = """(?s)\s*(\w+)\s+([\w.-]+)\s+("(?:[^"\\]|\\.)*"|[^;]*);""".r

  /** Parse the DAS attribute document: `Attributes { var { Type name value; … } … }`
    * → var → (attr → decoded value). Quoted strings unquote; numbers parse
    * as Long/Double so the synthesized .zattrs JSON carries real types. */
  def parseDas(text: String): Map[String, Map[String, Any]] = {
    val body = text.trim
    if (body.isEmpty) return Map.empty
    require(body.toLowerCase.startsWith("attributes"),
      s"not a DAS document: ${body.take(80)}")
    val open = body.indexOf('{')
    val close = matchingBrace(body, open)
    val out = scala.collection.mutable.Map.empty[String, Map[String, Any]]
    parseDasContainers(body.substring(open + 1, close), "", out)
    out.toMap
  }

  /** Walk one DAS container body: attribute declarations accumulate under
    * the container's (dot-flattened) name; NESTED containers — how DAS
    * scopes a Structure member's attributes — recurse with a `.`-joined
    * prefix, mirroring [[parseDds]]'s pydap-style flattening. Items
    * discriminate by a prefix attrRe match (it consumes quoted strings
    * correctly), so an attribute value is never mistaken for a container. */
  private def parseDasContainers(body: String, prefix: String,
      out: scala.collection.mutable.Map[String, Map[String, Any]]): Unit = {
    var rest = body
    val attrs = scala.collection.mutable.Map.empty[String, Any]
    while (rest.trim.nonEmpty) {
      val t = rest.trim
      attrRe.findPrefixMatchOf(t) match {
        case Some(m) =>
          val raw = m.group(3).trim
          // DAS attributes may be comma-separated LISTS (`Float64 range
          // 0.0, 360.0;`) — a failed scalar parse keeps the raw text
          // rather than refusing the whole document over an attribute
          val value: Any =
            if (raw.startsWith("\"")) raw.substring(1, raw.length - 1).replace("\\\"", "\"")
            else if (m.group(1).startsWith("Float"))
              try raw.toDouble catch { case _: NumberFormatException => raw }
            else
              try raw.toLong catch { case _: NumberFormatException => raw }
          attrs(m.group(2)) = value
          rest = t.substring(m.end)
        case None =>
          val nameEnd = t.indexOf('{')
          if (nameEnd < 0) { rest = "" }
          else {
            val varName = t.substring(0, nameEnd).trim
            val blockEnd = matchingBrace(t, nameEnd)
            parseDasContainers(t.substring(nameEnd + 1, blockEnd),
              s"$prefix$varName.", out)
            rest = t.substring(blockEnd + 1)
          }
      }
    }
    if (attrs.nonEmpty && prefix.nonEmpty)
      out(prefix.stripSuffix(".")) = attrs.toMap
  }

  // -------------------------------------------------------------- entries

  /** Default per-request payload target. DAP servers commonly cap response
    * sizes well below this; override via `graft.dap2.maxChunkBytes`. */
  val DefaultMaxChunkBytes: Long = 4L << 20

  val MaxChunkBytesOption = "graft.dap2.maxChunkBytes"

  /** `url` → chunk-map [[Entries.Entry]] rows, kerchunk-shaped.
    * Meta rows carry the synthesized zarr documents; each `ref` row's url
    * is a complete `.dods` hyperslab request for one band along the first
    * dimension. The driver only ever fetches the kilobyte `.dds`/`.das`
    * documents here — data bytes move in [[materialize]] tasks. */
  def read(spark: SparkSession, url: String,
           storageOptions: Map[String, String] = Map.empty): DataFrame = {
    import org.json4s.JsonDSL._
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}

    val base = url.stripSuffix("/")
    require(HttpFetch.isHttp(base),
      s"opendap asset '$url' must be an http(s) url (source.py:70-137 dispatch)")
    val maxChunk = storageOptions.get(MaxChunkBytesOption).map(_.toLong)
      .getOrElse(DefaultMaxChunkBytes)
    val maxDoc = HttpFetch.maxBytesFrom(storageOptions)

    val dds = parseDds(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(HttpFetch.fetchCached(s"$base.dds", maxDoc))), "UTF-8"))
    val das =
      try parseDas(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(HttpFetch.fetchCached(s"$base.das", maxDoc))), "UTF-8"))
      catch {
        // a server without DAS still serves data; attributes are additive
        case e: java.io.IOException =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .info(s"no DAS for $base (${e.getMessage}); continuing without attributes")
          Map.empty[String, Map[String, Any]]
      }

    def jsonOf(v: Any): JValue = v match {
      case d: Double => JDouble(d)
      case l: Long   => JLong(l)
      case other     => JString(String.valueOf(other))
    }

    val rootAttrs = das.get("NC_GLOBAL").orElse(das.get("GLOBAL")).iterator.map { as =>
      Entries.meta(".zattrs", compact(render(JObject(as.toList.map { case (k, v) =>
        JField(k, jsonOf(v)) }))))
    }
    def attrsOf(v: DapVar): List[JField] =
      das.getOrElse(v.name, Map.empty).toList.map { case (k, value) => JField(k, jsonOf(value)) }

    val perVar = dds.vars.iterator.flatMap { v =>
      val shape = v.dims.map(_._2)
      val dims = v.dims.map(_._1)
      if (stringTypes.contains(v.dapType)) {
        // label vector: |O meta row (numeric decode skips it), one
        // un-banded ref — see the class doc's String-array paragraph
        val slab = shape.map(n => s"[0:${n - 1}]").mkString
        Entries.array(v.name, Entries.zarray("|O", shape, shape), Entries.zattrs(attrsOf(v), dims)) ++
          Iterator(Entries.ref(s"${v.name}/${Seq.fill(shape.size)("0").mkString(".")}",
            s"$base.dods?${v.name}$slab"))
      } else {
      val rowElems = shape.drop(1).product
      val rowBytes = math.max(1L, rowElems * wireElemSize(v.dapType))
      val bandRows = math.max(1L, math.min(shape.head, maxChunk / rowBytes))
      val nBands = (shape.head + bandRows - 1) / bandRows
      val chunks = bandRows +: shape.drop(1)
      // a Grid's coordinate-map association surfaces as the CF
      // `coordinates` attribute (space-joined map names) — exactly what
      // xarray writes when it flattens a pydap Grid
      val meta = Entries.array(v.name, Entries.zarray(zarrDtype(v.dapType), shape, chunks),
        Entries.zattrs(attrsOf(v) ++
          (if (v.maps.nonEmpty) List(JField("coordinates", JString(v.maps.mkString(" ")))) else Nil),
          dims))

      val zeros = Seq.fill(math.max(chunks.size - 1, 0))("0")
      val data = (0L until nBands).iterator.map { b =>
        val lo = b * bandRows
        val hi = math.min(shape.head, lo + bandRows) - 1
        // full extent on trailing dims: the hyperslab selects a row band
        val slab = (s"[$lo:$hi]" +: shape.drop(1).map(n => s"[0:${n - 1}]")).mkString
        Entries.ref(s"${v.name}/${(b.toString +: zeros).mkString(".")}",
          s"$base.dods?${v.name}$slab")
      }
      meta ++ data
      }
    }

    // one-level Sequences (r13): a `.zseq` meta row carries the member
    // schema (name + DAP type, declaration order — the record walk needs
    // it), and ONE `seqref` row requests the whole sequence (`?name`);
    // record count is data-dependent, so there is no banding to presize —
    // a server-side relational constraint is the protocol's own
    // subsetting path for these. The numeric/label planes skip both rows
    // by kind/member, so a mixed dataset decodes all three planes.
    val perSeq = dds.seqs.iterator.flatMap { sq =>
      // a nested-Sequence member carries its own member list inline —
      // RECURSIVELY since r15 — so the record walk can rebuild the full
      // declaration tree at any depth
      def memberJson(b: SeqBody): List[JValue] = b.members.map { case (n, t) =>
        val base = List(JField("name", JString(n)), JField("type", JString(t)))
        if (t == "Sequence")
          JObject(base :+ JField("members", JArray(memberJson(b.nested(n)))))
        else b.arrays.get(n) match {
          // an ARRAY member (r16) carries its declared dims — the record
          // walk needs the fixed per-record geometry to span its bytes
          case Some(dims) => JObject(base :+ JField("dims", JArray(dims.map {
            case (dn, sz) => JObject(List(JField("name", JString(dn)),
              JField("size", JInt(sz))))
          }.toList)))
          case None => JObject(base)
        }
      }.toList
      val schema: JValue = ("members" -> JArray(memberJson(sq.body)))
      Iterator(
        Entries.meta(s"${sq.name}/.zseq", compact(render(schema))),
        Entries.ref(s"${sq.name}/seq", s"$base.dods?${sq.name}").copy(kind = "seqref"))
    }

    Entries.frame(spark, (Iterator(Entries.group) ++ rootAttrs ++ perVar ++ perSeq).toSeq)
  }

  // ----------------------------------------------------------- materialize

  /** Fetch every `ref` row's `.dods` response in parallel executor tasks
    * and strip the XDR framing to the raw big-endian payload — the same
    * (key, variable, member, kind, url, offset, length, data) contract as
    * [[KerchunkIndex.materializeChunks]], ready for decodeTyped/decodeCoords.
    * One task per request band, capped at the session parallelism. */
  def materialize(entries: DataFrame): DataFrame = {
    val spark = entries.sparkSession
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val refs = entries.filter(col("kind") === "ref")
      .select("key", "variable", "member", "url")
      .as[(String, String, String, String)]
    val n = refs.count()
    val parts = math.max(1, math.min(n, spark.sparkContext.defaultParallelism).toInt)
    refs.repartition(parts).map { case (key, variable, member, url) =>
      (key, variable, member, "ref", url, None: Option[Long], None: Option[Long],
        fetchDodsPayload(url))
    }.toDF("key", "variable", "member", "kind", "url", "offset", "length", "data")
  }

  /** GET one `.dods` response and return the stripped array payload.
    * Framing (DAP 2.0 §7.2.3): the projected DDS text, a line `Data:`, then
    * XDR — two big-endian uint32 element counts, then the elements. */
  private[graft] def fetchDodsPayload(url: String): Array[Byte] = {
    val body = fetchBody(url)
    // the requested variable, from the constraint: `...dods?name[slab]...`
    val wantVar = url.indexOf('?') match {
      case -1 => None
      case q  => Some(url.substring(q + 1).takeWhile(c => c != '[' && c != ',' && c != '&'))
        .map(n => java.net.URLDecoder.decode(n, "UTF-8")).filter(_.nonEmpty)
    }
    stripDods(body, url, wantVar)
  }

  /** GET one DAP2 response body, unframed. `maxBytes` bounds the in-memory
    * buffer (the sequence plane's wire-byte guard — record streams have no
    * presizable geometry); past it the fetch refuses loudly instead of
    * buffering an unbounded feed on one task. */
  private[graft] def fetchBody(url: String, maxBytes: Long = Long.MaxValue): Array[Byte] = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(300000)
    try {
      val code = conn.getResponseCode
      if (code / 100 != 2)
        throw new java.io.IOException(s"DAP2 server returned $code for $url")
      val in = conn.getInputStream
      try {
        if (maxBytes == Long.MaxValue) in.readAllBytes()
        else {
          val bos = new java.io.ByteArrayOutputStream(
            math.min(maxBytes, 1L << 16).toInt)
          val buf = new Array[Byte](64 * 1024)
          var total = 0L
          var n = in.read(buf)
          while (n >= 0) {
            total += n
            if (total > maxBytes)
              throw new java.io.IOException(
                s"DAP2 response from $url exceeds the $maxBytes-byte fetch bound — " +
                  "subset server-side (member projection and/or a relational " +
                  "selection like ?seq.a,seq.b&seq.depth>500) or raise maxFetchBytes")
            bos.write(buf, 0, n)
            n = in.read(buf)
          }
          bos.toByteArray
        }
      } finally in.close()
    } finally conn.disconnect()
  }

  /** Strip the DODS framing and return the requested variable's raw XDR
    * payload. A server answering a Grid constraint returns the sliced Grid
    * — array plus maps, several serialized variables — so the binary
    * section is WALKED in projected-DDS order (each variable's byte span
    * is fully determined by its counts/dims/type), and the span whose name
    * matches `wantVar` is returned; with `wantVar` empty a single-variable
    * response is required. Every span is length- and count-checked, so a
    * malformed response refuses rather than mis-addressing. */
  private[graft] def stripDods(body: Array[Byte], url: String,
                               wantVar: Option[String] = None): Array[Byte] = {
    val marker = "\nData:\n".getBytes("US-ASCII")
    val at = indexOfSlice(body, marker)
    if (at < 0)
      throw new java.io.IOException(
        s"malformed DODS response from $url: missing 'Data:' separator")
    val ddsText = new String(body, 0, at, "US-ASCII")
    val projected = parseDds(ddsText)
    require(wantVar.isDefined || projected.vars.size == 1,
      s"expected exactly one projected variable in the DODS response from $url, " +
        s"got ${projected.vars.map(_.name).mkString(", ")}")
    def u32(off: Int): Long =
      ((body(off) & 0xffL) << 24) | ((body(off + 1) & 0xffL) << 16) |
        ((body(off + 2) & 0xffL) << 8) | (body(off + 3) & 0xffL)
    var pos = at + marker.length
    val want = wantVar.getOrElse(projected.vars.head.name)
    projected.vars.foreach { v =>
      val expectElems = v.dims.map(_._2).product
      if (stringTypes.contains(v.dapType)) {
        // String array: count ONCE, then RFC 4506 counted strings (length
        // word + bytes + pad-to-4). The span end is data-dependent, so the
        // walk parses every string — a truncated or mis-counted block
        // refuses here rather than mis-addressing the next variable.
        require(body.length - pos >= 4,
          s"truncated DODS response from $url: no XDR count word for '${v.name}'")
        val n = u32(pos)
        require(n == expectElems,
          s"DODS count mismatch from $url for '${v.name}': DDS declares " +
            s"$expectElems elements, XDR count is $n")
        var p = pos + 4
        var k = 0L
        while (k < n) {
          require(body.length - p >= 4,
            s"truncated DODS response from $url: string ${k + 1}/$n of '${v.name}' has no length word")
          val len = u32(p)
          val wire = 4L + (len + 3L) / 4L * 4L
          require(body.length - p >= wire,
            s"truncated DODS response from $url: string ${k + 1}/$n of '${v.name}' " +
              s"needs $wire wire bytes, have ${body.length - p}")
          p += wire.toInt
          k += 1L
        }
        if (v.name == want)
          return java.util.Arrays.copyOfRange(body, pos, p)
        pos = p
      } else {
      require(body.length - pos >= 8,
        s"truncated DODS response from $url: no XDR count words for '${v.name}'")
      val n1 = u32(pos)
      val n2 = u32(pos + 4)
      require(n1 == expectElems && n2 == expectElems,
        s"DODS count mismatch from $url for '${v.name}': DDS declares " +
          s"$expectElems elements, XDR counts are $n1/$n2")
      val payloadLen = (expectElems * wireElemSize(v.dapType)).toInt
      // Byte arrays pad to the 4-byte XDR boundary on the wire
      val wireLen =
        if (v.dapType == "Byte") (payloadLen + 3) / 4 * 4 else payloadLen
      require(body.length - pos - 8 >= payloadLen,
        s"truncated DODS response from $url: '${v.name}' needs $payloadLen " +
          s"payload bytes, have ${body.length - pos - 8}")
      if (v.name == want)
        return java.util.Arrays.copyOfRange(body, pos + 8, pos + 8 + payloadLen)
      pos += 8 + wireLen
      }
    }
    throw new java.io.IOException(
      s"DODS response from $url does not contain requested variable '$want' " +
        s"(has: ${projected.vars.map(_.name).mkString(", ")})")
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  // ---------------------------------------------------------------- labels

  /** Decode materialized String-array chunks into
    * (variable, dims: array&lt;string&gt;, coords: array&lt;long&gt;,
    * label) rows — the label plane of [[KerchunkIndex.decodeCoords]].
    * String variables are identified by their `|O` `.zarray` dtype (the
    * rows [[read]] synthesizes); numeric variables pass through the shared
    * numeric plane untouched and are ignored here. One chunk per variable
    * by construction, C order, so coords are plain stride arithmetic over
    * `idx`. Per-row scan work only — no shuffle. */
  def decodeLabels(entries: DataFrame, materialized: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.functions._
    val meta = KerchunkIndex.arrayMeta(entries)
      .filter(col("dtype") === "|O")
      .select(col("variable"), col("shape"))
    val dims = KerchunkIndex.attrDims(entries)
    val labels = GraftColumnBridge.column(
      XdrStringArray(GraftColumnBridge.expression(col("data"))))
    val coordsExpr = transform(sequence(lit(0), size(col("shape")) - 1), d => {
      val stride = aggregate(
        slice(col("shape"), d + lit(2), size(col("shape"))), lit(1L), (a, x) => a * x)
      call_function("div", col("idx").cast("long"), stride) % get(col("shape"), d)
    })
    val named = coalesce(col("dims"),
      transform(sequence(lit(0), size(col("shape")) - 1), d => concat(lit("dim"), d)))
    materialized
      .join(broadcast(meta), Seq("variable"))
      .select(col("variable"), col("shape"), posexplode(labels))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "label")
      .join(broadcast(dims), Seq("variable"), "left")
      .select(col("variable"), named.as("dims"), coordsExpr.as("coords"), col("label"))
  }

  // ------------------------------------------------------------- sequences

  /** Decode Sequence containers (r13; nested members to any depth since
    * r15) into tidy rows: (variable = `<seq>.<member path>`, dims = the
    * chain of enclosing sequence paths, coords = one record index per
    * level, value, label) — numeric members fill `value`, String/Url
    * members fill `label`; each lands on the plane the rest of the engine
    * already speaks. One executor task fetches one sequence's `.dods`
    * stream and walks the XDR records (DAP 2.0 §7.2.3: `0x5A000000`
    * start-of-instance marker before every record, `0xA5000000`
    * terminator; scalar members serialize as XDR basic values in
    * declaration order — integers ≤4 bytes promoted to 4-byte big-endian,
    * Strings as RFC 4506 counted strings). Record count is data-dependent
    * — exactly why Sequences live outside the `.zarray` plane — so the
    * walk emits what it parses and refuses on any framing disagreement.
    * Reference behavior matched: pydap surfaces a Sequence as per-member
    * vectors over the record index (the reference hands opendap urls to
    * the pydap engine, source.py:85-90; pydap compiles its own
    * ConstraintExpression filters to exactly this suffix).
    *
    * `select` (r14) pushes per-member RELATIONAL constraints to the
    * server as the DAP2 selection suffix (`?seq.a,seq.b&seq.depth>500`)
    * — the protocol's own filter path and the standard way in-situ
    * clients avoid shipping a whole feed. Each entry is
    * `<member><op><literal>` with ops `< <= > >= = != =~` (`=~` and
    * quoted literals only on String/Url members, numeric literals only
    * on numeric members); selection members need not be projected. The
    * server filters BEFORE records are numbered, so `coords` are the
    * post-filter record indices 0..n-1 — the row surface of the smaller
    * feed, exactly as pydap presents a constrained sequence.
    *
    * `maxFetchBytes` bounds the one-task record-stream fetch (the
    * array plane's maxChunkBytes analogue — record count is
    * data-dependent, so the only honest bound is on wire bytes); an
    * oversized feed refuses loudly and points at `select`/`project`. */
  def decodeSequences(entries: DataFrame,
                      project: Map[String, Seq[String]] = Map.empty,
                      select: Map[String, Seq[String]] = Map.empty,
                      maxFetchBytes: Long = 256L << 20): DataFrame = {
    val spark = entries.sparkSession
    import org.apache.spark.sql.functions._
    import spark.implicits._
    require(maxFetchBytes > 0, s"decodeSequences: maxFetchBytes $maxFetchBytes")
    // member schemas + sequence refs: a handful of tiny rows per sequence,
    // driver-side by design — ONE collect serves both (the schema walk and
    // the task list), so no separate sizing job runs
    val metaRows = entries
      .filter(col("member") === ".zseq" || col("kind") === "seqref")
      .select("variable", "member", "kind", "url", "inline_value").collect()
    val schemas: Map[String, SeqBody] = metaRows.filter(_.getString(1) == ".zseq")
      .map(r => r.getString(0) -> parseSeqSchema(r.getString(4))).toMap
    // member PROJECTION pushes to the server as the DAP2 dotted-name
    // constraint (`?seq.a,seq.b`) — the protocol's own subsetting path: a
    // 50-member in-situ feed fetches only the columns asked for. The
    // server answers in DECLARATION order (libdap/pydap serialize the
    // sequence's members in DDS order regardless of projection order), so
    // the projected schema keeps declaration order too.
    project.foreach { case (seqName, wanted) =>
      val declared = schemas.getOrElse(seqName, throw new IllegalArgumentException(
        s"DAP2 sequence projection names '$seqName', which is not a Sequence here"))
        .members
      // a nested-Sequence member projects by NAME (the whole subtree —
      // `?prof.profile` is a legal DAP2 constructor projection); naming
      // an inner member individually is not supported here
      val unknown = wanted.filterNot(w => declared.exists(_._1 == w))
      require(unknown.isEmpty,
        s"DAP2 sequence projection names unknown member(s) ${unknown.mkString(", ")} " +
          s"of '$seqName' (has: ${declared.map(_._1).mkString(", ")})")
      require(wanted.nonEmpty, s"DAP2 sequence projection for '$seqName' is empty")
    }
    // selections validate against the DECLARED schema (a filter member
    // need not be projected — DAP2 evaluates selection server-side over
    // the full sequence, then serializes only the projection). A DOTTED
    // member (`profile.depth>500`, r14; ANY depth since r15 —
    // `profile.samples.val<3`) selects on a nested sequence's scalar:
    // the server filters THAT sequence's records — enclosing records
    // remain, possibly with an empty nested stream (the protocol's
    // innermost-sequence selection semantics, pydap's behavior).
    def memberTypeOf(b: SeqBody, segs: List[String], at: String, p: String): String =
      segs match {
        case one :: Nil =>
          require(!b.arrays.contains(one),
            s"DAP2 sequence selection '$p': '$at.$one' is an ARRAY member — " +
              "relational selection is defined on scalar members only")
          b.members.collectFirst { case (`one`, t) => t }.getOrElse(
            throw new IllegalArgumentException(
              s"DAP2 sequence selection '$p' names unknown member '$one' of " +
                s"'$at' (has: ${b.members.map(_._1).mkString(", ")})"))
        case seg :: rest =>
          require(b.members.exists { case (n, t) => n == seg && t == "Sequence" },
            s"DAP2 sequence selection '$p': '$at.$seg' is not a nested " +
              s"Sequence member (has: ${b.members.map(_._1).mkString(", ")})")
          memberTypeOf(b.nested(seg), rest, s"$at.$seg", p)
        case Nil => throw new IllegalStateException(s"empty member path in '$p'")
      }
    val selByVar: Map[String, Seq[String]] = select.map { case (seqName, preds) =>
      val schema = schemas.getOrElse(seqName, throw new IllegalArgumentException(
        s"DAP2 sequence selection names '$seqName', which is not a Sequence here"))
      require(preds.nonEmpty, s"DAP2 sequence selection for '$seqName' is empty")
      seqName -> preds.map { p =>
        val (m, op, lit) = p match {
          case seqSelRe(m0, op0, lit0) => (m0, op0, lit0)
          case _ => throw new IllegalArgumentException(
            s"DAP2 sequence selection '$p' is not <member><op><literal> " +
              "(ops: < <= > >= = != =~; member may dot through nested " +
              "Sequences to any depth: inner.field)")
        }
        val tpe = memberTypeOf(schema, m.split('.').toList, seqName, p)
        require(tpe != "Sequence",
          s"DAP2 sequence selection '$p': '$seqName.$m' is a nested Sequence — " +
            "select on its scalar members ('" + m + ".<field><op><literal>') " +
            "or scalar siblings instead")
        if (stringTypes.contains(tpe)) {
          require(op == "=" || op == "!=" || op == "=~",
            s"DAP2 sequence selection '$p': op '$op' is not defined on String " +
              s"member '$seqName.$m' (use = != =~)")
          require(lit.length >= 2 && lit.head == '"' && lit.last == '"',
            s"DAP2 sequence selection '$p': String member '$seqName.$m' needs a " +
              "double-quoted literal")
        } else {
          require(op != "=~",
            s"DAP2 sequence selection '$p': =~ is only defined on String members " +
              s"('$seqName.$m' is $tpe)")
          require(scala.util.Try(lit.toDouble).isSuccess,
            s"DAP2 sequence selection '$p': numeric member '$seqName.$m' needs a " +
              s"numeric literal, got '$lit'")
        }
        s"&$seqName.$m${ceEncode(op)}${ceEncode(lit)}"
      }
    }
    val effective: Map[String, SeqBody] =
      schemas.map { case (v, schema) =>
        val kept = project.get(v) match {
          case Some(wanted) => schema.members.filter { case (m, _) => wanted.contains(m) }
          case None         => schema.members
        }
        // a projected nested member keeps its WHOLE subtree (`?prof.profile`
        // is a constructor projection) — only top-level pruning here;
        // array members keep their dims alongside
        v -> SeqBody(kept,
          schema.nested.view.filterKeys(k => kept.exists(_._1 == k)).toMap,
          schema.arrays.view.filterKeys(k => kept.exists(_._1 == k)).toMap)
      }
    val refPairs: Seq[(String, String)] = metaRows.filter(_.getString(2) == "seqref")
      .map(r => (r.getString(0), r.getString(3))).toSeq
    val parts = math.max(1, math.min(refPairs.size, spark.sparkContext.defaultParallelism))
    val cap = maxFetchBytes
    spark.sparkContext.parallelize(refPairs, parts).flatMap { case (variable, url) =>
      val eff = effective.getOrElse(variable,
        throw new IllegalStateException(s"no .zseq schema row for sequence '$variable'"))
      val sels = selByVar.getOrElse(variable, Seq.empty).mkString
      // the seqref url ends '?<seq>' (whole-sequence projection); member
      // projection replaces it with the dotted names, selections append
      val reqUrl =
        if (!project.contains(variable) && sels.isEmpty) url
        else url.substring(0, url.indexOf('?') + 1) +
          (if (project.contains(variable))
             eff.members.map { case (m, _) => s"$variable.$m" }.mkString(",")
           else variable) + sels
      parseSeqRecords(fetchBody(reqUrl, cap), reqUrl, variable,
          eff.members, eff.nested, eff.arrays).map {
        case (path, coords, v, s) =>
          // a depth-d scalar ([rec, irec, …]) dims over the chain of
          // enclosing sequences: (seq, seq.a, seq.a.b, …) — each dim
          // name is the dotted path of the sequence that owns that
          // coordinate slot. An ARRAY member (r16) appends its declared
          // dim names, qualified under the member path: its coords are
          // [enclosing records…, element indices…]
          val segs = path.split('.')
          val owner = segs.init.foldLeft(eff)((b, seg) => b.nested(seg))
          val arrayDims = owner.arrays.getOrElse(segs.last, Nil)
          val dims = (variable +: (1 until segs.size).map(k =>
            s"$variable.${segs.take(k).mkString(".")}")) ++
            arrayDims.map { case (dn, _) => s"$variable.$path.$dn" }
          require(dims.size == coords.size,
            s"sequence '$variable' member '$path': ${coords.size} coords " +
              s"but ${dims.size} dims — schema/stream disagreement")
          (s"$variable.$path", dims, coords, v, s)
      }
    }.toDF("variable", "dims", "coords", "value", "label")
  }

  // `<member><op><literal>` — ops longest-first so `<=` never parses as
  // `<`; the member may dot through nested Sequences to any depth (r15)
  private val seqSelRe =
    """^\s*([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*)\s*(<=|>=|!=|=~|<|>|=)\s*(.+?)\s*$""".r

  /** Percent-encode a constraint-expression component: `<`, `>`, `"`,
    * `{`, `}`, spaces, and non-ASCII are illegal raw in a URI query (a
    * strict server — or `java.net.URI` itself — rejects the request
    * line); the CE-structural `&` also encodes so a literal can never
    * split the selection list. Servers decode before CE evaluation. */
  private[graft] def ceEncode(s: String): String = {
    val safe = "-_.~!$'()*+,;=:@"
    s.getBytes("UTF-8").map { b =>
      val i = b & 0xff
      val c = i.toChar
      if (i < 0x80 && (c.isLetterOrDigit || safe.indexOf(c) >= 0)) c.toString
      else f"%%$i%02X"
    }.mkString
  }

  private def parseSeqSchema(json: String): SeqBody = {
    import org.json4s._
    def bodyOf(items: List[JValue], where: String): SeqBody = {
      val members = items.map { m =>
        ((m \ "name"), (m \ "type")) match {
          case (JString(nm), JString(t)) => (nm, t)
          case _ => throw new IllegalArgumentException(s"malformed $where member: $m")
        }
      }
      val nested = items.zip(members).collect {
        case (m, (nm, "Sequence")) => (m \ "members") match {
          case JArray(inner) => nm -> bodyOf(inner, s"$where nested '$nm'")
          case other => throw new IllegalArgumentException(
            s"malformed $where nested member '$nm': $other")
        }
      }.toMap
      val arrays = items.zip(members).flatMap {
        case (m, (nm, _)) => (m \ "dims") match {
          case JArray(ds) => Some(nm -> ds.map { d =>
            ((d \ "name"), (d \ "size")) match {
              case (JString(dn), JInt(sz)) => (dn, sz.longValue)
              case _ => throw new IllegalArgumentException(
                s"malformed $where array member '$nm' dim: $d")
            }
          })
          case JNothing => None
          case other => throw new IllegalArgumentException(
            s"malformed $where array member '$nm' dims: $other")
        }
      }.toMap
      SeqBody(members, nested, arrays)
    }
    (org.json4s.jackson.JsonMethods.parse(json) \ "members") match {
      case JArray(items) => bodyOf(items, ".zseq")
      case other => throw new IllegalArgumentException(s"malformed .zseq schema: $other")
    }
  }

  /** Walk a Sequence `.dods` body into (member path, coords, value,
    * label) tuples — coords carries ONE record index per enclosing
    * sequence level: `[record]` for the sequence's own scalar members,
    * `[record, inner record, …]` for members of nested Sequences at ANY
    * depth (r15; DAP 2.0 §7.2.3 serializes a nested Sequence member
    * recursively — its own 0x5A-marked record stream with its own
    * 0xA5 terminator, inline at the member's declaration position).
    * Every marker, member span, and the final byte count are checked —
    * a malformed stream refuses rather than mis-addressing (the
    * stripDods doctrine). */
  private[graft] def parseSeqRecords(body: Array[Byte], url: String, seqName: String,
      members: Seq[(String, String)],
      nested: Map[String, SeqBody] = Map.empty,
      arrays: Map[String, Seq[(String, Long)]] = Map.empty)
      : Seq[(String, Seq[Long], Option[Double], Option[String])] = {
    val marker = "\nData:\n".getBytes("US-ASCII")
    val at = indexOfSlice(body, marker)
    if (at < 0)
      throw new java.io.IOException(
        s"malformed DODS response from $url: missing 'Data:' separator")
    val projected = parseDds(new String(body, 0, at, "US-ASCII"))
    require(projected.seqs.exists(s =>
        s.name == seqName && s.members == members && s.nested == nested &&
          s.arrays == arrays),
      s"DODS response from $url does not declare Sequence '$seqName' with the " +
        s"expected members (sequences: ${projected.seqs.map(_.name).mkString(", ")})")
    def u32(off: Int): Long =
      ((body(off) & 0xffL) << 24) | ((body(off + 1) & 0xffL) << 16) |
        ((body(off + 2) & 0xffL) << 8) | (body(off + 3) & 0xffL)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[Long], Option[Double], Option[String])]
    var pos = at + marker.length
    // decode one scalar member span at `pos`, advancing it
    def scalar(tpe: String, where: String): (Option[Double], Option[String]) =
      if (stringTypes.contains(tpe)) {
        require(body.length - pos >= 4,
          s"truncated DODS sequence stream: no length word for $where")
        val len = u32(pos)
        val wire = 4L + (len + 3L) / 4L * 4L
        require(body.length - pos >= wire,
          s"truncated DODS sequence stream: $where needs $wire wire bytes, " +
            s"have ${body.length - pos}")
        val s = new String(body, pos + 4, len.toInt, "UTF-8")
        pos += wire.toInt
        (None, Some(s))
      } else {
        val width = if (tpe == "Float64") 8 else 4
        require(body.length - pos >= width,
          s"truncated DODS sequence stream: $width-byte $where missing")
        val v: Double = tpe match {
          case "Float64" =>
            java.lang.Double.longBitsToDouble((u32(pos) << 32) | u32(pos + 4))
          case "Float32" => java.lang.Float.intBitsToFloat(u32(pos).toInt).toDouble
          case "Byte"    => (u32(pos) & 0xffL).toDouble
          case "UInt16" | "UInt32" => u32(pos).toDouble
          case "Int16" | "Int32"   => u32(pos).toInt.toDouble
          case other => throw new UnsupportedOperationException(
            s"DAP2 Sequence member type '$other' unsupported ($where)")
        }
        pos += width
        (Some(v), None)
      }
    // decode one ARRAY member span at `pos` (r16): numeric arrays carry
    // the DOUBLED count word inside records exactly as at top level
    // (§7.3.2; both counts must agree with the declared geometry — a
    // disagreement means mis-framing, refuse before mis-addressing);
    // String/Url arrays the count-once form (the label-plane
    // convention); Byte arrays pack + pad to 4. Elements stream in
    // row-major declaration order.
    def arraySpan(tpe: String, dims: Seq[(String, Long)], where: String)
        : Seq[(Option[Double], Option[String])] = {
      val count = dims.map(_._2).product
      if (stringTypes.contains(tpe)) {
        require(body.length - pos >= 4,
          s"truncated DODS sequence stream: no count word for $where")
        val n = u32(pos)
        require(n == count,
          s"DODS sequence stream counts $n elements for $where, " +
            s"declared ${dims.map(_._2).mkString("x")}")
        pos += 4
        (0L until count).map(_ => scalar(tpe, where))
      } else {
        require(body.length - pos >= 8,
          s"truncated DODS sequence stream: no doubled count for $where")
        val (n1, n2) = (u32(pos), u32(pos + 4))
        require(n1 == count && n2 == count,
          s"DODS sequence stream counts $n1/$n2 elements for $where, " +
            s"declared ${dims.map(_._2).mkString("x")}")
        pos += 8
        if (tpe == "Byte") {
          // packed, zero-padded to a 4-byte boundary — unlike a SCALAR
          // Byte member, which XDR promotes to its own 4-byte word
          val wire = (count + 3L) / 4L * 4L
          require(body.length - pos >= wire,
            s"truncated DODS sequence stream: $where needs $wire packed " +
              s"bytes, have ${body.length - pos}")
          val vs = (0L until count).map(i =>
            (Some((body(pos + i.toInt) & 0xff).toDouble), None: Option[String]))
          pos += wire.toInt
          vs
        } else (0L until count).map(_ => scalar(tpe, where))
      }
    }
    // flat row-major element index → per-dim indices (C order)
    def unravel(flat: Long, sizes: Seq[Long]): Seq[Long] =
      sizes.scanRight(1L)(_ * _).tail.zip(sizes).map { case (stride, sz) =>
        flat / stride % sz
      }
    // one 0x5A/0xA5 record stream at any nesting level (r15: the r14
    // two-level special case generalized to full recursion) — `coords`
    // holds the enclosing levels' record indices, `level` the dotted
    // declaration path for error messages, `prefix` the emitted member
    // path. Returns this level's record count.
    def stream(ms: Seq[(String, String)], nest: Map[String, SeqBody],
               arrs: Map[String, Seq[(String, Long)]],
               prefix: String, coords: Seq[Long], level: String): Long = {
      val inner = coords.nonEmpty
      val what = if (inner) "inner marker" else "marker"
      var rec = 0L
      var done = false
      while (!done) {
        val at = (coords :+ rec).mkString(".")
        require(body.length - pos >= 4,
          s"truncated DODS sequence stream from $url: no $what before " +
            s"record $at of '$level'")
        u32(pos) match {
          case 0x5A000000L => // start of instance
            pos += 4
            ms.foreach { case (mName, tpe) =>
              if (tpe == "Sequence") {
                val in = nest.getOrElse(mName, throw new IllegalStateException(
                  s"no nested schema for Sequence member '$level.$mName'"))
                stream(in.members, in.nested, in.arrays, s"$prefix$mName.",
                  coords :+ rec, s"$level.$mName")
              } else arrs.get(mName) match {
                case Some(dims) => // per-record ARRAY member (r16)
                  val where = s"'$level.$mName' of record $at from $url"
                  arraySpan(tpe, dims, where).zipWithIndex.foreach {
                    case ((v, s), flat) =>
                      out += ((prefix + mName,
                        (coords :+ rec) ++ unravel(flat.toLong, dims.map(_._2)), v, s))
                  }
                case None =>
                  val (v, s) = scalar(tpe, s"'$level.$mName' of record $at from $url")
                  out += ((prefix + mName, coords :+ rec, v, s))
              }
            }
            rec += 1L
          case 0xA5000000L => // end of this sequence's stream
            pos += 4
            done = true
          case other =>
            throw new java.io.IOException(
              f"malformed DODS sequence stream from $url: $what 0x$other%08X " +
                s"before record $at of '$level' (want 0x5A000000 or 0xA5000000)")
        }
      }
      rec
    }
    val nRecs = stream(members, nested, arrays, "", Seq.empty, seqName)
    require(pos == body.length,
      s"DODS sequence stream from $url has ${body.length - pos} trailing bytes " +
        s"after $nRecs records")
    out.toSeq
  }
}

/** XDR string-array block → array&lt;string&gt;: one big-endian uint32
  * element count, then per element a length word + UTF-8 bytes padded to a
  * 4-byte boundary (RFC 4506 §4.11; DAP2 string vectors carry the count
  * ONCE — see [[Dap2Index]]'s class doc). The parse must consume the block
  * EXACTLY — trailing or missing bytes refuse loudly rather than
  * mis-decoding. */
case class XdrStringArray(child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"xdr_string_array expects binary, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    XdrStringArray.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.sources.XdrStringArray.parse($b);")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = newChild)
}

object XdrStringArray {
  def parse(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    def u32(off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    require(b.length >= 4, s"XDR string block of ${b.length} bytes has no count word")
    val n = u32(0)
    // plausibility BEFORE allocation: each element needs at least its
    // 4-byte length word, so a corrupt count (e.g. 0x7fffffff in a tiny
    // block) refuses here instead of OOMing on a 2^31-slot array
    require(n <= (b.length - 4L) / 4L,
      s"XDR string count $n impossible for a ${b.length}-byte block")
    val out = new Array[Any](n.toInt)
    var pos = 4
    var i = 0
    while (i < n) {
      require(b.length - pos >= 4,
        s"truncated XDR string block: element ${i + 1}/$n has no length word")
      val len = u32(pos)
      val padded = (len + 3L) / 4L * 4L
      require(b.length - pos - 4 >= padded,
        s"truncated XDR string block: element ${i + 1}/$n needs $padded bytes, " +
          s"have ${b.length - pos - 4}")
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        b, pos + 4, len.toInt)
      pos += 4 + padded.toInt
      i += 1
    }
    require(pos == b.length,
      s"XDR string block has ${b.length - pos} trailing bytes after $n strings")
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
