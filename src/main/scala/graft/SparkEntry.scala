package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.derived.{DerivedVariable, DerivedVariableRegistry}
import graft.harness.PipelineDemo
import graft.operators.{Dedup, DedupChecks, MinimalExploder, Multimodal, Similarity, TextAnalysis, TextClassifier}
import graft.search.QueryCompiler

/** Driver contract — one query per implemented operator from SURVEY.md §2
  * plus the LLM-pipeline extension operators. Every query is deterministic
  * (explicit ORDER BY + exact decimal aggregation) so the DuckDB oracle
  * hash-matches bit-for-bit.
  */
object SparkEntry {

  // ------------------------------------------------------------- helpers

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    CatalogReader.readAssetTable(s, s"$dir/$name.parquet")

  /** Exact decimal sum rendered as double — identical in Spark and DuckDB
    * regardless of accumulation order. The oracle side hops through VARCHAR:
    * DuckDB's direct decimal→double cast divides `unscaled / 10^scale` in
    * floating point (1-ulp off for large sums — bit us at sf0.1), while its
    * string→double parse is correctly rounded, matching Spark's
    * BigDecimal.doubleValue at every magnitude. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)
  private val dsumSql = (x: String) => s"CAST(CAST(SUM(CAST($x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  private def tmpToken(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Bit-exact mismatch count between two top-k frames on (query_id,
    * rank) — the equality pin the ann_index_* gates share: any
    * missing/extra rank or a neighbor/cosine differing in one ulp
    * counts. ONE copy, so a fix to the comparison semantics cannot
    * silently diverge across gates. */
  private def topKMismatches(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame): Long =
    a.select(col("query_id"), col("rank"),
        col("neighbor_id").as("__na"), col("cosine").as("__ca"))
      .join(b.select(col("query_id"), col("rank"),
        col("neighbor_id").as("__nb"), col("cosine").as("__cb")),
        Seq("query_id", "rank"), "full_outer")
      .filter(col("__na").isNull || col("__nb").isNull ||
        col("__na") =!= col("__nb") || col("__ca") =!= col("__cb"))
      .count()

  /** The unique row key of the synthetic lineitem table (the
    * (orderkey, linenumber) pair alone is NOT unique in this testdata). */
  private val lineKey = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  /** events.parquet's `ts` physical type has changed across testdata
    * regenerations — TIMESTAMP(NANOS) in one build, timestamp[us] in the
    * next — so dispatch on the schema actually read instead of assuming one:
    *   - timestamp / timestamp_ntz  → unix_micros (session tz is UTC, so an
    *     NTZ wall clock maps to the same epoch micros DuckDB's epoch_us
    *     computes on its naive TIMESTAMP);
    *   - long (TIMESTAMP(NANOS) re-read under nanosAsLong) → ts div 1000.
    * Both are exact integer math; the DuckDB oracle's epoch_us(ts) yields
    * the identical value for either physical encoding. The legacy
    * nanosAsLong conf is only set when a plain read refuses the NANOS
    * annotation — never unconditionally. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    def load() = T(s, dir, "events")
    val df =
      try load()
      catch {
        case e: Throwable if String.valueOf(e.getMessage).toUpperCase.contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          load()
      }
    val us = df.schema("ts").dataType match {
      case TimestampType | TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case LongType                         => expr("ts div 1000")
      case other => throw new IllegalStateException(
        s"events.ts: unsupported type $other — expected timestamp, timestamp_ntz, " +
          "or long (raw nanos); update SparkEntry.events() for this fixture schema")
    }
    df.withColumn("us", us)
  }

  /** Ad-hoc catalog wrapper over a plain DataFrame (no asset files). */
  private def adhocCatalog(
      s: SparkSession, df: DataFrame,
      groupby: List[String], variableCol: Option[String] = None,
      iterables: Set[String] = Set.empty,
  ): EsmCatalog = {
    val model = EsmCatalogModel(
      esmcatVersion = "0.2.0", id = Some("adhoc"),
      assets = Assets(columnName = "path", format = Some("parquet")),
      aggregationControl = Some(AggregationControl(variableCol.getOrElse(""), groupby, Nil)),
      catalogDict = Some(Nil),
    )
    new EsmCatalog(s, model, df, iterables,
      iterables.map(_ -> CatalogReader.ContainerType.TupleT).toMap)
  }

  /** One-time bucketed-table fixture for `q_bucketed_join`: lineitem and
    * orders written bucketed+sorted on their order key (the standing layout
    * a recurring fact-fact join key earns at 100 TB). Managed tables live in
    * the session's in-memory catalog, so existence is checked per session,
    * not via an on-disk marker, and stale warehouse directories from earlier
    * sessions are cleared before the write. Only the joined/aggregated
    * columns are kept — a standing layout should not carry the full fact
    * width. */
  private[graft] def ensureBucketedTables(s: SparkSession, dir: String): (String, String) = {
    // dots would parse as a db.table separator in a table identifier
    val tok = tmpToken(dir).replace(".", "_")
    val (lt, ot) = (s"graft_bkt_lineitem_$tok", s"graft_bkt_orders_$tok")
    // a FRESH session has no catalog entry for the table, so saveAsTable
    // degrades Overwrite → CREATE and refuses the non-empty warehouse dir a
    // previous session left behind — drop + clear the stale location first
    def clearStale(table: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $table")
      val loc = Paths.get(s.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), table)
      if (Files.exists(loc)) {
        val walk = Files.walk(loc)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    this.synchronized {
      if (!s.catalog.tableExists(lt) || !s.catalog.tableExists(ot)) {
        clearStale(lt); clearStale(ot)
        graft.operators.Bucketing.writeBucketed(
          T(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
          lt, buckets = 8, keys = Seq("l_orderkey"))
        graft.operators.Bucketing.writeBucketed(
          T(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          ot, buckets = 8, keys = Seq("o_orderkey"))
      }
    }
    (lt, ot)
  }

  /** One-time csv catalog fixture for `scan_catalog_csv` (cached per sf dir
    * via a _READY marker) — input setup, shared with the Bench warmup. */
  def ensureCsvFixture(s: SparkSession, dir: String): String = {
    val out    = s"/tmp/graft_csv_${tmpToken(dir)}"
    val marker = Paths.get(out, "_READY")
    this.synchronized {
      if (!Files.exists(marker)) {
        T(s, dir, "region").coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
        Files.createFile(marker)
      }
    }
    out
  }

  /** Shared one-time REAL-container media fixture builder (cached per sf
    * dir): every doc_id becomes an actual container payload from `encode`,
    * written distributed (mapPartitions over the doc ids) under a
    * `_READY`-markered cache dir. The gates then parse the BYTES back with
    * the native header-parse expressions while the DuckDB oracles
    * re-derive the same values from the doc_id arithmetic. `token`
    * carries the version suffix — bump it with ANY encoder change, or a
    * stale cached fixture silently tests the old bytes. */
  private def ensureMediaFixture(s: SparkSession, dir: String, token: String,
      idCol: String, file: String, encode: Long => Array[Byte]): String = {
    val out    = s"/tmp/graft_${token}_${tmpToken(dir)}"
    val marker = Paths.get(out, "_READY")
    this.synchronized {
      if (!Files.exists(marker)) {
        import s.implicits._
        T(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, encode(id))))
          .toDF(idCol, "payload")
          .write.mode("overwrite").parquet(s"$out/$file")
        Files.createFile(marker)
      }
    }
    s"$out/$file"
  }

  /** Image fixture for `multimodal_image_meta`: PNG/JPEG/GIF/BMP via the
    * JDK ImageIO writers — [[graft.harness.ImageFixture]]. _v2: channel
    * sub-variant keyed on (doc_id/4)%2. */
  def ensureImageFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "img_v2", "img_id", "images.parquet",
      graft.harness.ImageFixture.encode)

  /** Audio fixture for `multimodal_audio_meta`: WAV (JDK javax.sound
    * encoder) / hand-encoded FLAC STREAMINFO — [[graft.harness.AudioFixture]]. */
  def ensureAudioFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "audio_v1", "clip_id", "audio.parquet",
      graft.harness.AudioFixture.encode)

  /** Video fixture for `multimodal_video_meta`: hand-encoded ISO BMFF
    * boxes, spec offsets — [[graft.harness.VideoFixture]]. */
  def ensureVideoFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "video_v1", "clip_id", "video.parquet",
      graft.harness.VideoFixture.encode)

  /** The zarr sink gates' shared tidy plane (nation/region, coords = rank
    * in key order — the Dap2 fixture's construction): ONE definition so
    * the v2 and v3 round trips write identical cells and share one
    * oracle. */
  private[graft] def zarrTidyPlane(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = T(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("k"),
        col("n_regionkey").cast(LongType).as("rk"), col("n_name"))
      .withColumn("i", (row_number().over(Window.orderBy("k")) - 1).cast(LongType))
    val r = T(s, dir, "region")
      .select(col("r_regionkey").cast(LongType).as("rr"), col("r_name"))
      .withColumn("j", (row_number().over(Window.orderBy("rr")) - 1).cast(LongType))
    val noLabel = lit(null).cast(StringType).as("label")
    val noValue = lit(null).cast(DoubleType).as("value")
    n.select(lit("n_key").as("variable"), typedLit(Seq("nation")).as("dims"),
        array(col("i")).as("coords"), col("k").cast(DoubleType).as("value"), noLabel)
      .unionByName(n.join(broadcast(r))
        .select(lit("key_sum").as("variable"),
          typedLit(Seq("nation", "region")).as("dims"),
          array(col("i"), col("j")).as("coords"),
          (col("k") + col("rr")).cast(DoubleType).as("value"), noLabel))
      // r12 dtype-breadth variables: an <i4, an <i8 beyond int range (the
      // 1e10 base forces the 8-byte width), and two label vectors — |S
      // (UTF-8 bytes) and <U (UCS-4; the v3 twin writes it as |S, core v3
      // has no UCS-4 fixed string) — all still coordinate formulas/columns
      // the oracle re-derives from the same parquet
      .unionByName(n.select(lit("n_region").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        col("rk").cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_big").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (lit(10000000000L) + col("k")).cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_name").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        noValue, col("n_name").as("label")))
      .unionByName(r.select(lit("r_label").as("variable"),
        typedLit(Seq("region")).as("dims"), array(col("j")).as("coords"),
        noValue, col("r_name").as("label")))
      // r13 full read-side dtype parity: one variable per remaining
      // numeric width — f4 (half-integer steps, exactly float32), signed
      // i2/i1 with NEGATIVE values, and the unsigned ladder (u2 beyond
      // i2's max, u4 beyond i4's max — the widths where a signed encode
      // would corrupt); all closed-form in nation's key
      .unionByName(n.select(lit("n_f4").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (col("k").cast(DoubleType) * 0.5).as("value"), noLabel))
      .unionByName(n.select(lit("n_i2").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (col("k") * 100L - 500L).cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_i1").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (col("k") * 10L - 120L).cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_u1").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (col("k") * 10L).cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_u2").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (col("k") * 2000L).cast(DoubleType).as("value"), noLabel))
      .unionByName(n.select(lit("n_u4").as("variable"),
        typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
        (lit(4000000000L) + col("k")).cast(DoubleType).as("value"), noLabel))
  }

  /** The zarr sink gates' per-variable dtypes (`uForV3 = false` swaps the
    * UCS-4 vector to |S for the v3 writer — see [[zarrTidyPlane]]). */
  private[graft] def zarrTidyDtypes(ucs4: Boolean): Map[String, String] =
    Map("n_region" -> "<i4", "n_big" -> "<i8", "n_name" -> "|S",
      "r_label" -> (if (ucs4) "<U" else "|S"),
      // r13 read-side parity widths
      "n_f4" -> "<f4", "n_i2" -> "<i2", "n_i1" -> "|i1",
      "n_u1" -> "|u1", "n_u2" -> "<u2", "n_u4" -> "<u4")

  /** Read a written zarr store back through the engine's own reader +
    * decode plane and emit (variable, dims, coord_key, value) rows — the
    * zarr sink gates' shared read-back half. */
  private[graft] def readZarrStoreCells(s: SparkSession, store: String): DataFrame = {
    // persisted: the two decode planes below reference the store walk
    // 6-7× between them (KerchunkIndex.sharedEntries note)
    val entries = graft.sources.KerchunkIndex.sharedEntries(
      graft.sources.ZarrDirectoryIndex.read(s, store))
    val chunks  = graft.sources.KerchunkIndex.materializeChunks(entries)
    val meta    = graft.sources.KerchunkIndex.arrayMeta(entries)
    val dims    = graft.sources.KerchunkIndex.attrDims(entries)
    val shared  = Seq(col("variable"),
      array_join(col("dims"), ".").as("dims"),
      array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"))
    // numeric plane + label plane (r12: string dtypes round-trip too);
    // each variable lives on exactly one of the two
    graft.sources.KerchunkIndex.decodeCoords(chunks, meta, dims)
      .select(shared :+ col("value") :+ lit(null).cast(StringType).as("label"): _*)
      .unionByName(graft.sources.KerchunkIndex.decodeLabelCoords(chunks, meta, dims)
        .select(shared :+ lit(null).cast(DoubleType).as("value") :+ col("label"): _*))
      .orderBy("variable", "coord_key")
  }

  /** One-time local kerchunk index fixture for `load_kerchunk_chunks`: ref
    * entries pointing at byte ranges of a STABLE read-only local file (the
    * reference's noaa-nwm sample index, 54207 bytes) plus inline, base64 and
    * zarr-meta entries. Content is fixed — the DuckDB oracle re-reads the
    * same ranges via read_blob + hex. */
  def ensureKerchunkFixture(): String = {
    val out  = Paths.get("/tmp/graft_kerchunk_fixture")
    val json = out.resolve("local-index.json")
    this.synchronized {
      if (!Files.exists(json)) {
        Files.createDirectories(out)
        val target = "file:///root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json"
        val content =
          s"""{"version": 1, "refs": {
             |  ".zgroup": "{\\"zarr_format\\": 2}",
             |  "blob/.zarray": "{\\"dtype\\": \\"|u1\\", \\"shape\\": [224], \\"chunks\\": [64], \\"compressor\\": null}",
             |  "blob/.zattrs": "{\\"units\\": \\"bytes\\"}",
             |  "blob/0": ["$target", 0, 64],
             |  "blob/1": ["$target", 64, 64],
             |  "blob/2": ["$target", 4096, 64],
             |  "blob/3": ["$target", 54000, 32],
             |  "note/0": "inline-text-chunk",
             |  "note/1": "base64:AAECAwQF"
             |}}""".stripMargin
        Files.writeString(json, content)
      }
    }
    json.toString
  }

  /** One-time tar archive holding the reference's CMIP5 classic-netCDF
    * sample (plus a decoy member the scan must skip), for
    * `load_netcdf_tar`: the fsspec-chained `tar://member::archive` form the
    * reference opens through open_local (source.py:94-95,
    * tests/test_source.py:49-59). Hand-written ustar headers — correct
    * checksums, octal sizes — so the fixture shares no code with the
    * TarMember scanner it exercises. */
  def ensureNetcdfTarFixture(): String = {
    val src = Paths.get("/root/reference/tests/sample_data/cmip/cmip5/output1/NIMR-KMA/" +
      "HadGEM2-AO/rcp85/mon/atmos/Amon/r1i1p1/v20130815/tasmax/" +
      "tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200511-200512.nc")
    val member = src.getFileName.toString
    val out = Paths.get("/tmp/graft_nctar_fixture")
    val tar = out.resolve("cmip5-sample.tar")
    this.synchronized {
      if (!Files.exists(tar)) {
        Files.createDirectories(out)
        def header(name: String, size: Long): Array[Byte] = {
          val h = new Array[Byte](512)
          def put(off: Int, s: String): Unit = {
            val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, h, off, b.length)
          }
          put(0, name); put(100, "0000644\u0000"); put(108, "0000000\u0000")
          put(116, "0000000\u0000"); put(124, f"$size%011o" + "\u0000")
          put(136, "00000000000\u0000"); put(148, "        "); h(156) = '0'
          put(257, "ustar\u0000"); put(263, "00")
          val sum = h.map(_ & 0xff).sum
          put(148, f"$sum%06o" + "\u0000 ")
          h
        }
        val bos = new java.io.ByteArrayOutputStream()
        val decoy = "this member is not the one being asked for\n".getBytes("US-ASCII")
        def add(name: String, data: Array[Byte]): Unit = {
          bos.write(header(name, data.length.toLong)); bos.write(data)
          val pad = (512 - data.length % 512) % 512
          bos.write(new Array[Byte](pad))
        }
        add("README.txt", decoy)
        add(member, Files.readAllBytes(src))
        bos.write(new Array[Byte](1024)) // end-of-archive marker
        Files.write(tar, bos.toByteArray)
      }
    }
    s"tar://$member::$tar"
  }

  /** One-time local zarr-over-kerchunk fixture for `load_kerchunk_typed`: a
    * binary store holding FORMULA-GENERATED chunks (zlib f4, raw i4, gzip
    * f8, raw u1, blosc-lz4 i4, delta+shuffle-filtered i4, plus a
    * non-numeric |S3 decoy) and a kerchunk index mapping
    * byte ranges into it. The DuckDB oracle re-derives the VALUES from the
    * same formulas — an end-to-end check of write → positioned read →
    * inflate → element decode, with no shared decode code. Formulas use
    * only 0.25/0.5 steps, exact in f4/f8, so the double widening is
    * bit-identical on both sides. */
  def ensureZarrFixture(): String = {
    // _v4: gained the fletcher32-checksummed variable (earlier: _v3 added
    // blosc-lz4 and delta+shuffle) — a content change must change the cache
    // path, or a stale /tmp survivor would silently serve the old store
    val out  = Paths.get("/tmp/graft_zarr_fixture_v4")
    val json = out.resolve("zarr-index.json")
    this.synchronized {
      if (!Files.exists(json)) {
        Files.createDirectories(out)
        val bos = new java.io.ByteArrayOutputStream()
        def le(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          put(b); b.array()
        }
        def zlib(b: Array[Byte]): Array[Byte] = {
          val d = new java.util.zip.Deflater(2)
          d.setInput(b); d.finish()
          val o = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](8192)
          while (!d.finished()) { val n = d.deflate(buf); o.write(buf, 0, n) }
          d.end(); o.toByteArray
        }
        def gz(b: Array[Byte]): Array[Byte] = {
          val o = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(o); g.write(b); g.close()
          o.toByteArray
        }
        def slice(bytes: Array[Byte]): String = {
          val off = bos.size(); bos.write(bytes)
          s"""["file://$out/store.bin", $off, ${bytes.length}]"""
        }
        val temp = (0 until 3).map(c => slice(zlib(le(32)(bb =>
          (0 until 8).foreach(j => bb.putFloat((8 * c + j) * 0.5f - 3.0f))))))
        val cnt = (0 until 2).map(c => slice(le(20)(bb =>
          (0 until 5).foreach(j => { val i = 5 * c + j; bb.putInt(i * i - 17) }))))
        val big  = slice(gz(le(32)(bb => (0 until 4).foreach(j => bb.putDouble(1e9 + 0.25 * j)))))
        val mask = slice((0 until 6).map(i => ((i * 7 + 3) % 256).toByte).toArray)
        val tag  = slice("abcdef".getBytes("US-ASCII"))
        // blosc-lz4, shuffle=1: i%50 repeats across elements so the
        // byte-shuffled planes genuinely lz4-compress (real match sequences,
        // not stored splits)
        val packed = slice(graft.sources.BloscCodec.compress(
          le(1024)(bb => (0 until 256).foreach(i => bb.putInt(i % 50))), typesize = 4))
        // delta + shuffle filter chain (raw, no compressor): stored bytes
        // are the byte-shuffled DIFFERENCES of v_i = 3*i*(i+1)/2 - 40
        val drift = slice(graft.sources.BloscCodec.shuffle(
          le(128)(bb => (0 until 32).foreach(i => bb.putInt(if (i == 0) -40 else 3 * i))), 4))
        // fletcher32 checksum filter: v_i = 7*i - 11 plus the 4-byte LE
        // checksum suffix the decoder must verify and strip
        val check = slice {
          val body = le(24)(bb => (0 until 6).foreach(i => bb.putInt(7 * i - 11)))
          val sum  = graft.sources.ZarrCodec.fletcher32(body, body.length)
          body ++ le(4)(bb => bb.putInt(sum.toInt))
        }
        Files.write(out.resolve("store.bin"), bos.toByteArray)
        // a .zarray entry is a JSON STRING whose content is itself JSON —
        // build the inner document plainly, then JSON-escape it once
        def jstr(s: String): String =
          "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
        def zarray(dtype: String, shape: Int, chunks: Int, comp: String): String =
          jstr(s"""{"dtype": "$dtype", "shape": [$shape], "chunks": [$chunks], """ +
            s""""compressor": $comp, "filters": null, "order": "C", "zarr_format": 2}""")
        val content =
          s"""{"version": 1, "refs": {
             |  ".zgroup": ${jstr("""{"zarr_format": 2}""")},
             |  "temp/.zarray": ${zarray("<f4", 24, 8, """{"id": "zlib", "level": 2}""")},
             |  "temp/0": ${temp(0)},
             |  "temp/1": ${temp(1)},
             |  "temp/2": ${temp(2)},
             |  "count/.zarray": ${zarray("<i4", 10, 5, "null")},
             |  "count/0": ${cnt(0)},
             |  "count/1": ${cnt(1)},
             |  "big/.zarray": ${zarray("<f8", 4, 4, """{"id": "gzip"}""")},
             |  "big/0": $big,
             |  "mask/.zarray": ${zarray("|u1", 6, 6, "null")},
             |  "mask/0": $mask,
             |  "packed/.zarray": ${zarray("<i4", 256, 256,
                  """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}""")},
             |  "packed/0": $packed,
             |  "drift/.zarray": ${jstr("""{"dtype": "<i4", "shape": [32], "chunks": [32], """ +
                  """"compressor": null, "filters": [{"id": "delta", "dtype": "<i4"}, """ +
                  """{"id": "shuffle", "elementsize": 4}], "order": "C", "zarr_format": 2}""")},
             |  "drift/0": $drift,
             |  "check/.zarray": ${jstr("""{"dtype": "<i4", "shape": [6], "chunks": [6], """ +
                  """"compressor": null, "filters": [{"id": "fletcher32"}], """ +
                  """"order": "C", "zarr_format": 2}""")},
             |  "check/0": $check,
             |  "tag/.zarray": ${zarray("|S3", 2, 2, "null")},
             |  "tag/0": $tag
             |}}""".stripMargin
        Files.writeString(json, content)
      }
    }
    json.toString
  }

  /** One-time 2-D zarr-over-kerchunk fixture for `load_kerchunk_coords`:
    * `grid` is shape [5,7] in [3,4] chunks — a 2×2 chunk grid with UNEVEN
    * edge chunks (zarr stores them padded to full chunk shape; padding is
    * written as -1 and must never surface). `vec` is 1-D [10] in [4] chunks
    * (again a padded edge) with NO `.zattrs`, exercising the `dim0`
    * fallback. Values are integer formulas (value = y*100+x, value = 3i-5)
    * the DuckDB oracle re-derives from the coordinates alone. */
  def ensureZarrGridFixture(): String = {
    val out  = Paths.get("/tmp/graft_zarr_grid_fixture")
    val json = out.resolve("grid-index.json")
    this.synchronized {
      if (!Files.exists(json)) {
        Files.createDirectories(out)
        val bos = new java.io.ByteArrayOutputStream()
        def le(vals: Seq[Int]): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(4 * vals.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vals.foreach(b.putInt); b.array()
        }
        def zlib(b: Array[Byte]): Array[Byte] = {
          val d = new java.util.zip.Deflater(2)
          d.setInput(b); d.finish()
          val o = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](8192)
          while (!d.finished()) { val n = d.deflate(buf); o.write(buf, 0, n) }
          d.end(); o.toByteArray
        }
        def slice(bytes: Array[Byte]): String = {
          val off = bos.size(); bos.write(bytes)
          s"""["file://$out/store.bin", $off, ${bytes.length}]"""
        }
        val gridChunks = for { cr <- 0 until 2; cc <- 0 until 2 } yield {
          val vals = for { lr <- 0 until 3; lc <- 0 until 4 } yield {
            val r = cr * 3 + lr; val c = cc * 4 + lc
            if (r < 5 && c < 7) r * 100 + c else -1 // -1 = edge padding
          }
          s""""grid/$cr.$cc": ${slice(zlib(le(vals)))}"""
        }
        val vecChunks = for { ci <- 0 until 3 } yield {
          val vals = for { j <- 0 until 4 } yield {
            val i = ci * 4 + j
            if (i < 10) i * 3 - 5 else -1
          }
          s""""vec/$ci": ${slice(le(vals))}"""
        }
        Files.write(out.resolve("store.bin"), bos.toByteArray)
        def jstr(s: String): String =
          "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
        val content =
          s"""{"version": 1, "refs": {
             |  ".zgroup": ${jstr("""{"zarr_format": 2}""")},
             |  "grid/.zarray": ${jstr("""{"dtype": "<i4", "shape": [5, 7], "chunks": [3, 4], """ +
                """"compressor": {"id": "zlib", "level": 2}, "filters": null, "order": "C", "zarr_format": 2}""")},
             |  "grid/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["y", "x"]}""")},
             |  ${gridChunks.mkString(",\n  ")},
             |  "vec/.zarray": ${jstr("""{"dtype": "<i4", "shape": [10], "chunks": [4], """ +
                """"compressor": null, "filters": [], "order": "C", "zarr_format": 2}""")},
             |  ${vecChunks.mkString(",\n  ")}
             |}}""".stripMargin
        Files.writeString(json, content)
      }
    }
    json.toString
  }

  /** One-time zarr v2 DIRECTORY store fixture for `load_zarr_store`:
    * `t2m` is a [2,3] f4 array in [2,2] zlib chunks (uneven x edge, padding
    * -1 must never surface) with `_ARRAY_DIMENSIONS` ["t","x"]; `step` is a
    * raw i8 [4] vector with no `.zattrs` (dim0 fallback). Values encode
    * their coordinates (t*10+x, i*i) so the oracle re-derives everything
    * from range() joins. */
  def ensureZarrStoreFixture(): String = {
    val out = Paths.get("/tmp/graft_zarr_store_fixture")
    this.synchronized {
      if (!Files.exists(out.resolve(".zgroup"))) {
        Files.createDirectories(out.resolve("t2m"))
        Files.createDirectories(out.resolve("step"))
        def zlib(b: Array[Byte]): Array[Byte] = {
          val d = new java.util.zip.Deflater(2)
          d.setInput(b); d.finish()
          val o = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](8192)
          while (!d.finished()) { val n = d.deflate(buf); o.write(buf, 0, n) }
          d.end(); o.toByteArray
        }
        def f4(vals: Seq[Float]): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(4 * vals.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vals.foreach(b.putFloat); b.array()
        }
        Files.writeString(out.resolve(".zgroup"), """{"zarr_format": 2}""")
        Files.writeString(out.resolve("t2m/.zarray"),
          """{"dtype": "<f4", "shape": [2, 3], "chunks": [2, 2],""" +
            """ "compressor": {"id": "zlib", "level": 2}, "filters": null, "order": "C", "zarr_format": 2}""")
        Files.writeString(out.resolve("t2m/.zattrs"), """{"_ARRAY_DIMENSIONS": ["t", "x"]}""")
        // chunk (0, cx): C-order over the [2,2] chunk; x >= 3 is edge padding
        for (cx <- 0 until 2) {
          val vals = for { t <- 0 until 2; lx <- 0 until 2 } yield {
            val x = cx * 2 + lx
            if (x < 3) (t * 10 + x).toFloat else -1.0f
          }
          Files.write(out.resolve(s"t2m/0.$cx"), zlib(f4(vals)))
        }
        Files.writeString(out.resolve("step/.zarray"),
          """{"dtype": "<i8", "shape": [4], "chunks": [4],""" +
            """ "compressor": null, "filters": null, "order": "C", "zarr_format": 2}""")
        val stepBytes = java.nio.ByteBuffer.allocate(32)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 4).foreach(i => stepBytes.putLong((i.toLong * i)))
        Files.write(out.resolve("step/0"), stepBytes.array())
      }
    }
    out.toString
  }

  /** One-time TEMPLATED kerchunk v1 fixture for `scan_kerchunk_templated` /
    * `load_kerchunk_templated` — the fsspec v1 `templates`/`gen` surface the
    * reference inherits through `reference://` (source.py:70-137):
    * `templates.u` names the data file, rendered into a whitespace-hole
    * ref (`{{ u }}`) and every generated ref; two `gen` entries expand a
    * 1-D range dimension and a 2-D (range × list) product with arithmetic
    * offset templates; and a static `gen/0` ref is deliberately SHADOWED by
    * the gen expansion (fsspec's refs-then-update precedence). The store is
    * int32 LE `v_k = 5k - 7`, so the DuckDB oracle re-derives both the
    * expansion (range arithmetic) and the decoded values (formula). */
  def ensureKerchunkTemplatedFixture(): String = {
    val out  = Paths.get("/tmp/graft_kerchunk_tpl_fixture")
    val json = out.resolve("index.json")
    this.synchronized {
      if (!Files.exists(json)) {
        Files.createDirectories(out)
        val b = java.nio.ByteBuffer.allocate(4 * 40)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 40).foreach(k => b.putInt(5 * k - 7))
        Files.write(out.resolve("store.bin"), b.array())
        def jstr(s: String): String =
          "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
        def zarray(dtype: String, shape: String, chunks: String): String =
          jstr(s"""{"dtype": "$dtype", "shape": $shape, "chunks": $chunks, """ +
            s""""compressor": null, "filters": null, "order": "C", "zarr_format": 2}""")
        val content =
          s"""{"version": 1,
             | "templates": {"u": "file://$out/store.bin"},
             | "gen": [
             |   {"key": "gen/{{i}}", "url": "{{u}}", "offset": "{{(i + 2) * 16}}",
             |    "length": "16", "dimensions": {"i": {"stop": 4}}},
             |   {"key": "grid/{{r}}.{{c}}", "url": "{{ u }}",
             |    "offset": "{{96 + (r * 2 + c) * 16}}", "length": "16",
             |    "dimensions": {"r": {"stop": 2}, "c": [0, 1]}}
             | ],
             | "refs": {
             |  ".zgroup": ${jstr("""{"zarr_format": 2}""")},
             |  "solo/.zarray": ${zarray("<i4", "[4]", "[4]")},
             |  "solo/0": ["{{ u }}", 0, 16],
             |  "gen/.zarray": ${zarray("<i4", "[16]", "[4]")},
             |  "gen/0": ["{{u}}", 0, 16],
             |  "grid/.zarray": ${zarray("<i4", "[2, 8]", "[1, 4]")}
             |}}""".stripMargin
        Files.writeString(json, content)
      }
    }
    json.toString
  }

  /** One-time multi-index kerchunk COMBINE fixture: three single-"file"
    * v1 JSON indexes, each holding its time slice of `t2m[time][x=3]`
    * (chunks [2,3]; extents 4, 4, 3 — the LAST source is ragged, the
    * legal place) plus an identical static `lat[x=3]`, with values
    * closed-form over GLOBAL coordinates (t2m = 10t + x over time offset
    * 0/4/8; lat = 100x; padding −1) so the combined decode re-derives
    * from range() alone — the MultiZarrToZarr shape. */
  def ensureKerchunkCombineFixture(): Seq[String] = {
    // _v2: gained the `time` coordinate variable (the coords-ordered
    // combine gate needs it) — content changes must change the cache path
    val out = Paths.get("/tmp/graft_kerchunk_combine_fixture_v2")
    this.synchronized {
      if (!Files.exists(out.resolve("index2.json"))) {
        Files.createDirectories(out)
        def i4(vals: Seq[Int]): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(4 * vals.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vals.foreach(b.putInt); b.array()
        }
        def jstr(s: String): String =
          "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
        val latBytes = i4(Seq(0, 100, 200))
        (0 until 3).foreach { k =>
          val extent = if (k == 2) 3 else 4
          val offset = 4 * k
          val bos = new java.io.ByteArrayOutputStream()
          def slice(bytes: Array[Byte]): String = {
            val off = bos.size(); bos.write(bytes)
            s"""["file://$out/data$k.bin", $off, ${bytes.length}]"""
          }
          val chunkRefs = (0 until (extent + 1) / 2).map { c =>
            val vals = for { lt <- 0 until 2; x <- 0 until 3 } yield {
              val t = c * 2 + lt
              if (t < extent) (offset + t) * 10 + x else -1 // ragged-tail pad
            }
            s""""t2m/$c.0": ${slice(i4(vals))}"""
          }
          // the dimension's own coordinate vector: GLOBAL time values, so
          // coordinate-ordered combine can sort scrambled sources by it
          val timeRefs = (0 until (extent + 1) / 2).map { c =>
            val vals = (0 until 2).map { lt =>
              val t = c * 2 + lt
              if (t < extent) offset + t else -1
            }
            s""""time/$c": ${slice(i4(vals))}"""
          }
          val latRef = s""""lat/0": ${slice(latBytes)}"""
          Files.write(out.resolve(s"data$k.bin"), bos.toByteArray)
          Files.writeString(out.resolve(s"index$k.json"),
            s"""{"version": 1, "refs": {
               |  ".zgroup": ${jstr("""{"zarr_format": 2}""")},
               |  "t2m/.zarray": ${jstr(s"""{"zarr_format": 2, "dtype": "<i4", """ +
                  s""""shape": [$extent, 3], "chunks": [2, 3], "compressor": null, """ +
                  """"filters": null, "order": "C"}""")},
               |  "t2m/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["time", "x"]}""")},
               |  ${chunkRefs.mkString(",\n  ")},
               |  "time/.zarray": ${jstr(s"""{"zarr_format": 2, "dtype": "<i4", """ +
                  s""""shape": [$extent], "chunks": [2], "compressor": null, """ +
                  """"filters": null, "order": "C"}""")},
               |  "time/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["time"]}""")},
               |  ${timeRefs.mkString(",\n  ")},
               |  "lat/.zarray": ${jstr("""{"zarr_format": 2, "dtype": "<i4", """ +
                  """"shape": [3], "chunks": [3], "compressor": null, """ +
                  """"filters": null, "order": "C"}""")},
               |  "lat/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["x"]}""")},
               |  $latRef
               |}}""".stripMargin)
        }
      }
    }
    (0 until 3).map(k => out.resolve(s"index$k.json").toString)
  }

  /** One-time kerchunk PARQUET reference store fixture for
    * `scan_kerchunk_parquet_refs` / `load_kerchunk_parquet` — the
    * fsspec LazyReferenceMapper layout kerchunk recommends past ~100 MB of
    * JSON: consolidated `.zmetadata` (metadata dict + `record_size`) over
    * per-variable `refs.<r>.parq` files whose ROW POSITION is the chunk's
    * C-order flat index. Exercises record-file boundaries (`temp`: 4
    * chunks at record_size 3 → two files), inline raw bytes and byte-range
    * refs (`flag`), a whole-file ref (size 0) and a MISSING chunk
    * (all-null row, `note`). All values are coordinate formulas
    * (0.5t - 2, 10y + x, 6j + 7) the DuckDB oracle re-derives; padding is
    * planted as -1/-9 and must never surface. The ref parquet is written
    * through Spark's own writer (one ordered partition per record file) —
    * the ROW-ORDER semantics under test are the store layout's, and the
    * oracle re-derives the decoded values independently. */
  def ensureKerchunkParquetFixture(s: SparkSession): String = {
    val out = Paths.get("/tmp/graft_kerchunk_parq_fixture")
    this.synchronized {
      // .zmetadata is written LAST, so its presence marks a complete build;
      // a crashed partial build rebuilds from scratch
      if (!Files.exists(out.resolve(".zmetadata"))) {
        val work = out
        org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
        Files.createDirectories(work)
        // data files: temp = f8 v=0.5g-2 over [10] in [3] chunks (stored
        // PADDED to full chunks, pad -1); flagchunk = flag's 0.1 byte-range
        // chunk; note0 = note's whole-file chunk
        val tempBytes = java.nio.ByteBuffer.allocate(8 * 12)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 12).foreach(g => tempBytes.putDouble(if (g < 10) 0.5 * g - 2 else -1.0))
        Files.write(work.resolve("store.bin"), tempBytes.array())
        def i4(vals: Seq[Int]): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(4 * vals.length)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vals.foreach(b.putInt); b.array()
        }
        // flag chunk 0.1 covers x ∈ {2, 3}; x=3 is edge padding (-9)
        Files.write(work.resolve("flagchunk.bin"), i4(Seq(2, -9, 12, -9)))
        Files.write(work.resolve("note0.bin"), i4(Seq(7, 13)))
        // one refs.<r>.parq per record: rows in flat-chunk order, written
        // as ONE pre-ordered partition so row_index == in-record position
        def writeRefs(variable: String, record: Int,
                      rows: Seq[(String, Long, Long, Array[Byte])]): Unit = {
          import s.implicits._
          val tmp = work.resolve(s"$variable.refs.$record.tmp")
          rows.zipWithIndex.map { case ((p, o, sz, r), i) => (i, p, o, sz, r) }
            .toDF("ord", "path", "offset", "size", "raw")
            .coalesce(1).sortWithinPartitions("ord")
            .select("path", "offset", "size", "raw")
            .write.parquet(tmp.toString)
          val part = Files.list(tmp).iterator()
          val parts = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
          while (part.hasNext) { val p = part.next(); if (p.getFileName.toString.startsWith("part-")) parts += p }
          require(parts.size == 1, s"fixture refs write produced ${parts.size} part files")
          val dest = work.resolve(variable)
          Files.createDirectories(dest)
          Files.move(parts.head, dest.resolve(s"refs.$record.parq"))
          org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
        }
        val store = s"file://$work/store.bin"
        writeRefs("temp", 0, (0 until 3).map(ci => (store, ci * 24L, 24L, null: Array[Byte])))
        writeRefs("temp", 1, Seq((store, 72L, 24L, null: Array[Byte])))
        writeRefs("flag", 0, Seq(
          (null: String, 0L, 0L, i4(Seq(0, 1, 10, 11))),          // 0.0 inline raw
          (s"file://$work/flagchunk.bin", 0L, 16L, null: Array[Byte]))) // 0.1 byte range
        writeRefs("note", 0, Seq(
          (s"file://$work/note0.bin", 0L, 0L, null: Array[Byte]), // whole-file (size 0)
          (null: String, 0L, 0L, null: Array[Byte])))             // missing chunk
        def z(dtype: String, shape: String, chunks: String): String =
          s"""{"zarr_format": 2, "shape": $shape, "chunks": $chunks, "dtype": "$dtype", """ +
            s""""compressor": null, "filters": null, "order": "C", "fill_value": null}"""
        Files.writeString(work.resolve(".zmetadata"),
          s"""{"metadata": {
             |  ".zgroup": {"zarr_format": 2},
             |  "temp/.zarray": ${z("<f8", "[10]", "[3]")},
             |  "temp/.zattrs": {"_ARRAY_DIMENSIONS": ["t"]},
             |  "flag/.zarray": ${z("<i4", "[2, 3]", "[2, 2]")},
             |  "flag/.zattrs": {"_ARRAY_DIMENSIONS": ["y", "x"]},
             |  "note/.zarray": ${z("<i4", "[4]", "[2]")}
             | }, "record_size": 3, "zarr_consolidated_format": 1}""".stripMargin)
      }
    }
    out.toString
  }

  /** One-time zarr v3 DIRECTORY store fixture for `load_zarr_v3`: `wind` is
    * a [2,3] int32 gzip array in [1,3] chunks with default ("c/" prefixed,
    * "/"-separated) chunk keys and `dimension_names` ["t","x"]; `lev` is a
    * raw float64 [5] vector using the v2 chunk-key encoding; `rain` is a
    * float32 [4] vector compressed with zstd — v3's DEFAULT compressor.
    * Values encode their coordinates (t*100+x, i*0.5-1, i*2.5+1) for the
    * range-join oracle. */
  /** Deterministic HDF5 layout-v4 fixture (see [[graft.harness.Hdf5V4Fixture]]):
    * `ea` — an 18-element extensible-array-indexed record variable with
    * value(i) = i; `fap` — a paged fixed array over [10] with page 1
    * never written (coords 4..7 are fill-absent), value(i) = i; `bt` — a
    * [4,4] v2-btree-indexed grid where chunk k carries k*100 + local
    * offset. Bytes are pure functions of these formulas, so rewriting on
    * a missing file is always safe. */
  /** Deterministic CDF-1 fixture with CF packed/masked/time variables
    * (see [[graft.harness.Nc3CfFixture]]). Pure function of closed-form
    * formulas, so rewriting on a missing file is always safe. */
  def ensureCfFixture(): String = {
    // v3: adds the _Unsigned byte variable (pb) and the julian time axis
    // (tjul) — pre-r9 cached bytes must not be reused
    val out = Paths.get("/tmp/graft_cf_fixture_v3.nc")
    this.synchronized {
      if (!Files.exists(out)) {
        val tmp = Files.createTempFile(out.getParent, "graft_cf_", ".tmp")
        Files.write(tmp, graft.harness.Nc3CfFixture.bytes())
        Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    out.toString
  }

  def ensureHdf5V4Fixture(): String = {
    // v2 suffix: the layout-v4 dimension encoding changed (rank+1 with a
    // trailing element-size entry), so pre-fix cached bytes must not be reused
    val out = Paths.get("/tmp/graft_h5v4_fixture_v2.nc")
    this.synchronized {
      if (!Files.exists(out)) {
        import graft.harness.Hdf5V4Fixture._
        val UNDEF = -1L
        val bytes = file { s =>
          val eaChunks = (0 until 9).map { k =>
            val at = s.pos; s.bytes(i32(k * 2, k * 2 + 1)); at
          }
          val eaHdr = extensibleArray(s, maxBits = 4, idxElmts = 2, minPtrs = 2,
            minElmts = 2, pageBits = 3, elems = eaChunks)
          val ea = ohdr(s, Seq(
            0x01 -> dataspace2(Seq(18), maxDims = Seq(-1L)), 0x03 -> dtInt32,
            0x08 -> layoutV4(Seq(2), 4, eaHdr, eaCfg = (4, 2, 2, 2, 3))))
          val c0 = s.pos; s.bytes(i32(0, 1))
          val c1 = s.pos; s.bytes(i32(2, 3))
          val c4 = s.pos; s.bytes(i32(8, 9))
          val fapHdr = fixedArray(s, clientId = 0, entrySize = 8, pageBits = 1,
            Seq((c0, 0L), (c1, 0L), (UNDEF, 0L), (UNDEF, 0L), (c4, 0L)),
            pagesPresent = Seq(true, false, true))
          val fap = ohdr(s, Seq(
            0x01 -> dataspace2(Seq(10)), 0x03 -> dtInt32,
            0x08 -> layoutV4(Seq(2), 3, fapHdr)))
          val btChunks = (0 until 4).map { k =>
            val at = s.pos
            s.bytes(i32(k * 100, k * 100 + 1, k * 100 + 2, k * 100 + 3)); at
          }
          val recs10 = (0 until 4).map { k =>
            val t = new Sink
            t.u64(btChunks(k)); t.u64(k / 2); t.u64(k % 2)
            t.result()
          }
          val btHdr = btree2(s, recordType = 10, recSize = 24, recs10)
          val bt = ohdr(s, Seq(
            0x01 -> dataspace2(Seq(4, 4)), 0x03 -> dtInt32,
            0x08 -> layoutV4(Seq(2, 2), 5, btHdr)))
          Seq("ea" -> ea, "fap" -> fap, "bt" -> bt)
        }
        val tmp = Files.createTempFile(out.getParent, "graft_h5v4_", ".tmp")
        Files.write(tmp, bytes)
        Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    out.toString
  }

  /** Deterministic NESTED-shard zarr v3 store: shape [4,8], file shards
    * [4,4] → outer sharding [2,4] → inner sharding [2,2] (both levels on
    * the spec-default crc32c end index), value(y,x) = y*10+x, with the
    * inner chunk covering y∈[2,3], x∈[6,7] deliberately missing (fill). */
  def ensureZarrNestedFixture(): String = {
    val out = Paths.get("/tmp/graft_zarr_nested_fixture")
    this.synchronized {
      if (!Files.exists(out.resolve("zarr.json"))) {
        Files.createDirectories(out.resolve("v/c/0"))
        Files.writeString(out.resolve("zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        Files.writeString(out.resolve("v/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [4, 8],
            | "data_type": "float64",
            | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 4]}},
            | "codecs": [{"name": "sharding_indexed", "configuration": {
            |   "chunk_shape": [2, 4],
            |   "codecs": [{"name": "sharding_indexed", "configuration": {
            |     "chunk_shape": [2, 2],
            |     "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}}]}}],
            | "dimension_names": ["y", "x"]}""".stripMargin)
        val LE = java.nio.ByteOrder.LITTLE_ENDIAN
        def index(slots: Seq[(Long, Long)]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(16 * slots.length).order(LE)
          slots.foreach { case (o, n) => bb.putLong(o).putLong(n) }
          val crc = new java.util.zip.CRC32C(); crc.update(bb.array())
          bb.array() ++ java.nio.ByteBuffer.allocate(4).order(LE)
            .putInt(crc.getValue.toInt).array()
        }
        // one [2,2] final chunk, C-order, value = y*10+x
        def chunk(y0: Long, x0: Long): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(32).order(LE)
          for (r <- 0L until 2L; c <- 0L until 2L) bb.putDouble((y0 + r) * 10 + (x0 + c))
          bb.array()
        }
        // inner shard over cols [x0, x0+4): two [2,2] chunks + end index
        def innerShard(y0: Long, x0: Long, dropLast: Boolean): Array[Byte] = {
          val c0 = chunk(y0, x0)
          if (dropLast) c0 ++ index(Seq((0L, 32L), (-1L, -1L)))
          else c0 ++ chunk(y0, x0 + 2) ++ index(Seq((0L, 32L), (32L, 32L)))
        }
        // file shard: two stacked inner shards + its own end index
        def fileShard(x0: Long, dropLastInner: Boolean): Array[Byte] = {
          val a = innerShard(0, x0, dropLast = false)
          val b = innerShard(2, x0, dropLastInner)
          a ++ b ++ index(Seq((0L, a.length.toLong), (a.length.toLong, b.length.toLong)))
        }
        Files.write(out.resolve("v/c/0/0"), fileShard(0, dropLastInner = false))
        Files.write(out.resolve("v/c/0/1"), fileShard(4, dropLastInner = true))
      }
    }
    out.toString
  }

  def ensureZarrV3Fixture(): String = {
    val out = Paths.get("/tmp/graft_zarr_v3_fixture_v2")
    this.synchronized {
      if (!Files.exists(out.resolve("zarr.json"))) {
        Files.createDirectories(out.resolve("wind/c/0"))
        Files.createDirectories(out.resolve("wind/c/1"))
        Files.createDirectories(out.resolve("lev"))
        Files.createDirectories(out.resolve("rain/c"))
        def gz(b: Array[Byte]): Array[Byte] = {
          val o = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(o); g.write(b); g.close()
          o.toByteArray
        }
        Files.writeString(out.resolve("zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        Files.writeString(out.resolve("wind/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],""" +
            """ "data_type": "int32",""" +
            """ "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [1, 3]}},""" +
            """ "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},""" +
            """ "fill_value": 0,""" +
            """ "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},""" +
            """ {"name": "gzip", "configuration": {"level": 2}}],""" +
            """ "dimension_names": ["t", "x"]}""")
        for (t <- 0 until 2) {
          val b = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (0 until 3).foreach(x => b.putInt(t * 100 + x))
          Files.write(out.resolve(s"wind/c/$t/0"), gz(b.array()))
        }
        Files.writeString(out.resolve("lev/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [5],""" +
            """ "data_type": "float64",""" +
            """ "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [5]}},""" +
            """ "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},""" +
            """ "fill_value": 0.0,""" +
            """ "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}""")
        val lb = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 5).foreach(i => lb.putDouble(i * 0.5 - 1.0))
        Files.write(out.resolve("lev/0"), lb.array())
        Files.writeString(out.resolve("rain/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [4],""" +
            """ "data_type": "float32",""" +
            """ "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},""" +
            """ "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},""" +
            """ "fill_value": 0.0,""" +
            """ "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},""" +
            """ {"name": "zstd", "configuration": {"level": 3, "checksum": false}}],""" +
            """ "dimension_names": ["r"]}""")
        val rb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until 4).foreach(i => rb.putFloat(i * 2.5f + 1.0f))
        Files.write(out.resolve("rain/c/0"), com.github.luben.zstd.Zstd.compress(rb.array(), 3))
      }
    }
    out.toString
  }

  /** One-time zarr v3 SHARDED store fixture for `load_zarr_sharded`: `temp`
    * is a [5,6] float64 array whose chunk grid is [4,4] SHARD files, each
    * holding a 2×2 grid of gzip'd [2,2] inner chunks behind a
    * crc32c-checked end index (the spec defaults). Shards at the array
    * edge carry missing slots (all-ones sentinel) for inner chunks beyond
    * the array, inner chunk (1,1) is deliberately omitted (fill), and the
    * last row of the (2,*) inners is zarr padding — so the oracle excludes
    * exactly the (1,1) footprint and decode must drop the padding.
    * Values encode coordinates (y*10+x) for the range-join oracle. */
  def ensureZarrV3ShardedFixture(): String = {
    val out = Paths.get("/tmp/graft_zarr_v3_sharded_v1")
    this.synchronized {
      if (!Files.exists(out.resolve("zarr.json"))) {
        Files.createDirectories(out.resolve("temp/c/0"))
        Files.createDirectories(out.resolve("temp/c/1"))
        Files.writeString(out.resolve("zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        Files.writeString(out.resolve("temp/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [5, 6],""" +
            """ "data_type": "float64",""" +
            """ "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 4]}},""" +
            """ "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},""" +
            """ "fill_value": 0.0,""" +
            """ "codecs": [{"name": "sharding_indexed", "configuration": {""" +
            """"chunk_shape": [2, 2],""" +
            """ "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},""" +
            """ {"name": "gzip", "configuration": {"level": 2}}],""" +
            """ "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},""" +
            """ {"name": "crc32c"}],""" +
            """ "index_location": "end"}}],""" +
            """ "dimension_names": ["y", "x"]}""")
        def gz(b: Array[Byte]): Array[Byte] = {
          val o = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(o); g.write(b); g.close()
          o.toByteArray
        }
        val LE = java.nio.ByteOrder.LITTLE_ENDIAN
        for (s0 <- 0 until 2; s1 <- 0 until 2) {
          val data  = new java.io.ByteArrayOutputStream()
          val index = java.nio.ByteBuffer.allocate(4 * 16).order(LE)
          for (l0 <- 0 until 2; l1 <- 0 until 2) { // C-order slots
            val (g0, g1) = (s0 * 2 + l0, s1 * 2 + l1)
            val present = g0 < 3 && g1 < 3 && !(g0 == 1 && g1 == 1)
            if (!present) { index.putLong(-1L); index.putLong(-1L) }
            else {
              val bb = java.nio.ByteBuffer.allocate(4 * 8).order(LE)
              for (r <- 0 until 2; c <- 0 until 2) {
                val (y, x) = (g0 * 2 + r, g1 * 2 + c)
                bb.putDouble(if (y < 5 && x < 6) y * 10.0 + x else 0.0) // 0.0 = pad fill
              }
              val enc = gz(bb.array())
              index.putLong(data.size().toLong); index.putLong(enc.length.toLong)
              data.write(enc)
            }
          }
          val crc = new java.util.zip.CRC32C(); crc.update(index.array())
          val os = new java.io.ByteArrayOutputStream()
          os.write(data.toByteArray); os.write(index.array())
          os.write(java.nio.ByteBuffer.allocate(4).order(LE).putInt(crc.getValue.toInt).array())
          Files.write(out.resolve(s"temp/c/$s0/$s1"), os.toByteArray)
        }
      }
    }
    out.toString
  }

  /** One-time fixture pair for `load_zarr_transpose` — the two ways a zarr
    * store departs from C-order addressing: `v3/mat` is a [2,3] int32
    * array stored through a full-reversal `transpose` codec (column-major
    * bytes, gzip'd), `v2/fm` is a [2,3] float64 v2 array declaring
    * `order: "F"` in [2,2] chunks (edge chunk padded). Values encode their
    * coordinates (t*100+x, r*10+c) for the range-join oracle — wrong
    * stride math would scramble, not shift, them. */
  def ensureZarrOrderFixture(): String = {
    val out = Paths.get("/tmp/graft_zarr_order_v1")
    this.synchronized {
      if (!Files.exists(out.resolve("v3/zarr.json"))) {
        def gz(b: Array[Byte]): Array[Byte] = {
          val o = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(o); g.write(b); g.close()
          o.toByteArray
        }
        val LE = java.nio.ByteOrder.LITTLE_ENDIAN
        Files.createDirectories(out.resolve("v3/mat/c/0"))
        Files.writeString(out.resolve("v3/zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        Files.writeString(out.resolve("v3/mat/zarr.json"),
          """{"zarr_format": 3, "node_type": "array", "shape": [2, 3],""" +
            """ "data_type": "int32",""" +
            """ "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},""" +
            """ "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},""" +
            """ "fill_value": 0,""" +
            """ "codecs": [{"name": "transpose", "configuration": {"order": [1, 0]}},""" +
            """ {"name": "bytes", "configuration": {"endian": "little"}},""" +
            """ {"name": "gzip", "configuration": {"level": 2}}],""" +
            """ "dimension_names": ["t", "x"]}""")
        val mb = java.nio.ByteBuffer.allocate(24).order(LE)
        for (x <- 0 until 3; t <- 0 until 2) mb.putInt(t * 100 + x) // column-major
        Files.write(out.resolve("v3/mat/c/0/0"), gz(mb.array()))
        Files.createDirectories(out.resolve("v2/fm"))
        Files.writeString(out.resolve("v2/.zgroup"), """{"zarr_format": 2}""")
        Files.writeString(out.resolve("v2/fm/.zarray"),
          """{"zarr_format": 2, "dtype": "<f8", "shape": [2, 3], "chunks": [2, 2],""" +
            """ "compressor": null, "filters": null, "order": "F"}""")
        for (cc <- 0 until 2) {
          val bb = java.nio.ByteBuffer.allocate(32).order(LE)
          for (c <- 0 until 2; r <- 0 until 2) { // F: dim0 fastest
            val (y, x) = (r, cc * 2 + c)
            bb.putDouble(if (x < 3) y * 10.0 + x else 0.0) // col 3 = pad fill
          }
          Files.write(out.resolve(s"v2/fm/0.$cc"), bb.array())
        }
      }
    }
    out.toString
  }

  // ------------------------------------------------------------- flagship

  /** Flagship: the full descriptor → scan → search → group → materialize
    * pipeline on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineDemo.datasetDictAsFrame(spark, "/root/testdata/sf0.001")

  // -------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // ===== headline relational queries (bench anchors) =====

    "q1_agg" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_top_orders" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
      val l = T(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 4)) - dec(col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .select(col("o_orderkey"), col("revenue"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q_star_join" -> ((s, dir) => {
      val r = broadcast(T(s, dir, "region"))
      val n = broadcast(T(s, dir, "nation"))
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    }),

    "q_cube_agg" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "q_topk_per_group" -> ((s, dir) => {
      // top-k per group: o_orderpriority has FIVE values, so a single
      // global window would collapse the whole fact table onto 5 reducers.
      // r18: the shared bounded-heap top-k (Similarity.twoStageTopK /
      // TopKRows) replaced the two-window form here too — the fact-table
      // volume is pruned to k per (group, partition) MAP-SIDE, never
      // exchanged or sorted; rows and ranks are bit-identical (strict
      // (o_totalprice desc, o_orderkey asc) order, unique tie-break).
      graft.operators.Similarity.twoStageTopK(
          T(s, dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          "o_orderpriority", col("o_totalprice"), col("o_orderkey"), 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    }),

    "q_salted_join" -> ((s, dir) => {
      // salted skew join must be row-identical to the plain join
      val o = T(s, dir, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
      graft.operators.SkewJoin
        .saltedJoin(T(s, dir, "lineitem"), o, keys = Seq("l_orderkey"), saltFactor = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "q_bucketed_join" -> ((s, dir) => {
      // standing-layout join: both sides written bucketed+sorted on the join
      // key, so the fact-fact join itself plans WITHOUT an Exchange (asserted
      // in PlanAuditSpec) — the only shuffle left is the tiny post-join agg
      val (lt, ot) = ensureBucketedTables(s, dir)
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "q_zorder_curve" -> ((s, dir) => {
      // the Morton key a z-order layout clusters on, with FIXED bounds so
      // the oracle reproduces the exact integer math engine-independently
      // (cell = x*256 div 262144; interleave bit b of col i to bit 2b+i)
      val l = T(s, dir, "lineitem")
      l.select((lineKey.map(col) :+
          graft.operators.ZOrder.gridCell(col("l_partkey"), 0L, 262143L, 8).as("cp") :+
          graft.operators.ZOrder.gridCell(col("l_suppkey"), 0L, 262143L, 8).as("cs")): _*)
        .select((lineKey.map(col) :+
          graft.operators.ZOrder.interleaveBits(Seq(col("cp"), col("cs")), 8).as("zval")): _*)
        .orderBy(lineKey.map(col): _*)
    }),

    "events_asof_join" -> ((s, dir) => {
      val e = events(s, dir).select("user_id", "event_id", "us", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val views = e.filter(col("event_type") === "view")
        .groupBy("user_id", "us").agg(max(col("event_id")).as("view_event"))
      graft.operators.AsofJoin.asofJoin(
        purchases, views, keys = Seq("user_id"), leftTime = "us", rightTime = "us",
        rightValues = Seq("us" -> "view_us", "view_event" -> "view_event"))
        .orderBy("user_id", "us", "event_id")
    }),

    // ===== catalog scans & decode (SURVEY §2 #1-4) =====

    "scan_catalog_parquet" -> ((s, dir) => {
      CatalogReader.readAssetTable(s, s"$dir/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    }),

    "scan_catalog_csv" -> ((s, dir) => {
      val out = ensureCsvFixture(s, dir)
      CatalogReader.readAssetTable(s, out) // header csv, strings (infer_schema=false)
        .select("r_regionkey", "r_name")
        .orderBy(col("r_regionkey").cast(IntegerType))
    }),

    "scan_catalog_esmcat" -> ((s, dir) => {
      // the esmcat data source: descriptor + asset index as one relation
      val json = PipelineDemo.ensureCatalog(s, dir)
      s.read.format("esmcat").load(json)
        .select("status", "member", "year", "variable")
        .orderBy("status", "member", "year", "variable")
    }),

    "scan_kerchunk_reference" -> ((s, _) => {
      // kerchunk reference:// catalog plane: the index the reference feeds
      // xarray's zarr engine (source.py:82-86), shredded to a chunk map via
      // VariantType. Byte-range DECODE stays behind the connector boundary;
      // enumeration/location is fully oracle-checkable (DuckDB walks the
      // same JSON).
      graft.sources.KerchunkIndex
        .read(s, "/root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json")
        .select("key", "variable", "kind", "url", "offset", "length")
        .orderBy("key")
    }),

    "load_kerchunk_chunks" -> ((s, _) => {
      // one level past the chunk map (source.py:82-86): materialize each
      // entry's bytes — positioned (offset, length) reads for local refs,
      // inline/base64 decode for inline entries. hex() so the DuckDB oracle
      // (read_blob + substring on the same ranges) compares byte-for-byte.
      val idx = ensureKerchunkFixture()
      val entries = graft.sources.KerchunkIndex.read(s, idx)
      graft.sources.KerchunkIndex.materializeChunks(entries)
        .select(col("key"), col("kind"), col("offset"), col("length"),
          hex(col("data")).as("chunk_hex"))
        .orderBy("key")
    }),

    "load_kerchunk_typed" -> ((s, _) => {
      // the full depth of the reference's zarr open for JDK-decodable
      // codecs: positioned byte-range read → zlib/gzip/raw decompress →
      // little-endian element decode → typed rows. The non-numeric |S3
      // variable ('tag') must be absent from the output.
      val idx     = ensureZarrFixture()
      val entries = graft.sources.KerchunkIndex.read(s, idx)
      graft.sources.KerchunkIndex.decodeTyped(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries))
        .orderBy("variable", "chunk", "idx")
    }),

    "load_kerchunk_coords" -> ((s, _) => {
      // one step further than load_kerchunk_typed (source.py:82-96): each
      // decoded value carries its per-dimension GLOBAL indices, labeled from
      // .zattrs _ARRAY_DIMENSIONS (grid → y.x) or the dim<i> fallback (vec),
      // with zarr's padded edge-chunk elements dropped. Arrays are rendered
      // as '.'-joined strings for the engine-portable compare.
      val idx     = ensureZarrGridFixture()
      val entries = graft.sources.KerchunkIndex.read(s, idx)
      graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries),
          graft.sources.KerchunkIndex.attrDims(entries))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "value")
    }),

    "scan_kerchunk_templated" -> ((s, _) => {
      // kerchunk v1 `templates`/`gen` at production index sizes
      // (source.py:70-137 via fsspec's reference filesystem): template
      // holes render into ref urls, two gen specs expand distributed
      // (range and range×list dimensions, arithmetic offset templates),
      // and a static `gen/0` ref is SHADOWED by the expansion (fsspec's
      // refs-then-update precedence). The oracle re-derives the whole
      // expansion from the same spec semantics in SQL.
      val idx = ensureKerchunkTemplatedFixture()
      graft.sources.KerchunkIndex.read(s, idx)
        .select("key", "variable", "kind", "url", "offset", "length")
        .orderBy("key")
    }),

    "load_kerchunk_templated" -> ((s, _) => {
      // the templated index decoded to typed values: the generated refs'
      // byte ranges land on the v_k = 5k - 7 store, so value agreement
      // proves the rendered urls/offsets point where the spec says
      val idx     = ensureKerchunkTemplatedFixture()
      val entries = graft.sources.KerchunkIndex.read(s, idx)
      graft.sources.KerchunkIndex.decodeTyped(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries))
        .orderBy("variable", "chunk", "idx")
    }),

    "combine_kerchunk_indexes" -> ((s, _) => {
      // r12: multi-index COMBINE (kerchunk's MultiZarrToZarr, index-ordered
      // mode) — three per-"file" reference sets concatenate along `time`
      // (chunk keys shift by the cumulative grid offset; the ragged last
      // source is legal, interior raggedness refuses) while the identical
      // `lat` passes through from source 0; the combined entries decode
      // through the shared plane with labeled GLOBAL coordinates, which
      // the oracle re-derives from the fixture's closed-form values.
      val paths = ensureKerchunkCombineFixture()
      val combined = graft.sources.KerchunkIndex.combineAlong(
        graft.sources.KerchunkIndex.readMany(s, paths), "time")
      graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(combined),
          graft.sources.KerchunkIndex.arrayMeta(combined),
          graft.sources.KerchunkIndex.attrDims(combined))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "combine_kerchunk_by_coords" -> ((s, _) => {
      // r12: MultiZarrToZarr's coo-map mode — the SAME three per-file
      // indexes fed in SCRAMBLED order; the `time` coordinate variable
      // decodes per source (one distributed pass over src-rekeyed
      // entries), sources sort by their minimum coordinate, overlapping
      // ranges refuse. The oracle is combine_kerchunk_indexes's verbatim:
      // the ordering mode must be invisible to every decoded cell.
      val paths = ensureKerchunkCombineFixture()
      val scrambled = Seq(paths(2), paths(0), paths(1))
      val combined = graft.sources.KerchunkIndex.combineAlongCoords(
        graft.sources.KerchunkIndex.readMany(s, scrambled), "time")
      graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(combined),
          graft.sources.KerchunkIndex.arrayMeta(combined),
          graft.sources.KerchunkIndex.attrDims(combined))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "save_kerchunk_parquet_refs" -> ((s, dir) => {
      // r12: the parquet-refs SINK, gated as a format MIGRATION — the
      // production path every deployment runs once its JSON index passes
      // ~100 MB: read the templated v1 JSON index (incl. its gen
      // expansion), WRITE it as a kerchunk parquet reference store, read
      // the store back through the engine's own parquet-refs reader, and
      // decode to typed values. The oracle is load_kerchunk_templated's
      // VERBATIM: the format swap must be invisible to every decoded cell.
      val idx = ensureKerchunkTemplatedFixture()
      val store = s"/tmp/graft_kerchunk_parq_rt_${tmpToken(dir)}"
      graft.sources.KerchunkIndex.writeParquetRefs(
        graft.sources.KerchunkIndex.read(s, idx), store, recordSize = 3)
      val entries = graft.sources.KerchunkIndex.open(s, store)
      graft.sources.KerchunkIndex.decodeTyped(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries))
        .orderBy("variable", "chunk", "idx")
    }),

    "append_kerchunk_parquet_refs" -> ((s, dir) => {
      // r13: production APPEND — reference indexes grow daily, and a
      // fresh writeParquetRefs of the whole history would rewrite every
      // record file. Build the store from the first two per-file indexes,
      // APPEND the third (only the boundary record file rewrites; earlier
      // records never leave the disk — KerchunkProductionSpec pins the
      // bytes), read back through the engine's own parquet-refs reader
      // and decode. The oracle is combine_kerchunk_indexes's VERBATIM
      // (the one-shot three-source combine): the append path must be
      // invisible to every decoded cell. The store rebuilds per run —
      // append is stateful, and a stale twice-appended store would double
      // the time axis.
      val paths = ensureKerchunkCombineFixture()
      val store = s"/tmp/graft_kerchunk_parq_append_${tmpToken(dir)}"
      graft.sources.KerchunkIndex.writeParquetRefs(
        graft.sources.KerchunkIndex.combineAlong(
          graft.sources.KerchunkIndex.readMany(s, paths.take(2)), "time"),
        store, recordSize = 3)
      graft.sources.KerchunkIndex.appendParquetRefs(s, store,
        graft.sources.KerchunkIndex.readMany(s, Seq(paths(2))), "time")
      val entries = graft.sources.KerchunkIndex.open(s, store)
      graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries),
          graft.sources.KerchunkIndex.attrDims(entries))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "scan_kerchunk_parquet_refs" -> ((s, _) => {
      // kerchunk PARQUET reference store (the format kerchunk recommends
      // past ~100 MB of JSON; fsspec LazyReferenceMapper layout): row
      // position in refs.<r>.parq is the chunk's C-order flat index.
      // Exercises record-file boundaries, inline raw, byte-range,
      // whole-file (size 0) and missing (all-null, dropped) refs through
      // the open() store dispatch.
      val store = ensureKerchunkParquetFixture(s)
      graft.sources.KerchunkIndex.open(s, store)
        .select(col("key"), col("kind"), col("url"), col("offset"), col("length"),
          col("inline_value").isNotNull.as("has_inline"))
        .orderBy("key")
    }),

    "load_kerchunk_parquet" -> ((s, _) => {
      // the parquet-ref store decoded with labeled coordinates through the
      // full openAsset('reference') user path — values are coordinate
      // formulas (0.5t-2, 10y+x, 6j+7) the oracle re-derives; planted
      // padding (-1/-9) and the missing chunk must never surface
      val store = ensureKerchunkParquetFixture(s)
      graft.catalog.EsmDataSource("kp", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, store, "reference")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_zarr_store" -> ((s, _) => {
      // the reference's `zarr`/`zarr2` format (source.py:82-96) on a v2
      // DIRECTORY store: enumerate files -> chunk-map entries -> decode with
      // labeled coordinates, through the openAsset dispatch itself
      // (graft.kerchunk.decode=coords), exercising the full user path.
      val store = ensureZarrStoreFixture()
      graft.catalog.EsmDataSource("z", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, store, "zarr")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_zarr_v3" -> ((s, _) => {
      // the reference's `zarr3` format: a v3 store (zarr.json metadata,
      // c/-prefixed chunk keys, codec chains) translated into the shared
      // chunk-map plane and decoded with labeled coordinates through the
      // openAsset dispatch (source.py:82-96, DataFormat cat.py:56-64).
      val store = ensureZarrV3Fixture()
      graft.catalog.EsmDataSource("z3", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, store, "zarr3")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_zarr_transpose" -> ((s, _) => {
      // non-C element orders, both flavors: a v3 full-reversal `transpose`
      // codec (translated to the v2 plane's order "F") and a native v2
      // `order: "F"` array with a padded edge chunk — the coords math
      // switches to column-major strides per the declared order; values
      // encode their coordinates so wrong strides would scramble them.
      val base = ensureZarrOrderFixture()
      val src = graft.catalog.EsmDataSource("zt", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "coords"))
      src.openAsset(s, s"$base/v3", "zarr3")
        .unionByName(src.openAsset(s, s"$base/v2", "zarr"))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_zarr_nested" -> ((s, _) => {
      // two nested sharding levels, both on the spec-default crc32c end
      // index — absolute byte ranges accumulate down the recursion, and
      // one missing innermost chunk stays fill
      val store = ensureZarrNestedFixture()
      graft.catalog.EsmDataSource("z3nest", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, store, "zarr3")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_zarr_sharded" -> ((s, _) => {
      // zarr v3 sharding_indexed — the format's many-chunks-per-object
      // scale layout: each shard file's crc32c-checked index expands into
      // per-inner-chunk byte-range refs, decoded with labeled coordinates
      // through the same openAsset dispatch as load_zarr_v3. Missing index
      // slots (edge shards + one deliberately omitted inner chunk) are
      // fill and emit no rows; zarr edge padding is dropped.
      val store = ensureZarrV3ShardedFixture()
      graft.catalog.EsmDataSource("z3shard", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, store, "zarr3")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf3" -> ((s, _) => {
      // the reference's `netcdf` format dispatch (source.py:97-109) for a
      // REAL classic-format CMIP5 file from its own test data: header parse
      // -> chunk-map entries -> positioned reads -> big-endian decode ->
      // dimension-labeled coordinates, all through the shared kerchunk
      // machinery (NetCDF3Index synthesizes the .zarray/.zattrs plane).
      val nc = "/root/reference/tests/sample_data/cmip/cmip5/output1/NIMR-KMA/HadGEM2-AO/" +
        "rcp85/mon/atmos/Amon/r1i1p1/v20130815/tasmax/" +
        "tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200511-200512.nc"
      val entries = graft.sources.NetCDF3Index.read(s, nc)
      graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries),
          graft.sources.KerchunkIndex.attrDims(entries))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf_tar" -> ((s, _) => {
      // tar-archived netCDF (source.py:94-95 fsspec chaining; the
      // reference's own test shape, tests/test_source.py:49-59): the SAME
      // CMIP5 classic file as load_netcdf3, but reached as a tar member —
      // TarMember walks the ustar headers (skipping a decoy member), both
      // parse and chunk refs shift by the member offset, and positioned
      // reads go straight into the archive with no extraction. Oracle =
      // the same 87 independently-pinned values: tar framing must be
      // perfectly transparent.
      val url = ensureNetcdfTarFixture()
      graft.catalog.EsmDataSource("nt", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, url, "netcdf")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_catalog_opendap" -> ((s, dir) => {
      // the reference's opendap catalog workflow (its own
      // noaa-pathfinder-opendap.json: a catalog_dict of opendap urls):
      // open_esm_datastore(json) -> search -> to_dataset_dict with every
      // asset served by the loopback DAP2 fixture. Two catalog rows point
      // at the same dataset and join_new stamps `member`, so the full
      // descriptor-parse + group + aggregate path runs over DAP2 assets;
      // per-(member, variable) count/min/max recompute exactly from
      // nation/region parquet in the oracle.
      val base = graft.harness.Dap2Fixture.ensure(s, dir)
      val json =
        s"""{
           |  "esmcat_version": "0.1.0",
           |  "id": "graft-opendap",
           |  "description": "loopback DAP2 fixture catalog (noaa-pathfinder-opendap shape)",
           |  "assets": {"column_name": "path", "format": "opendap"},
           |  "aggregation_control": {
           |    "variable_column_name": "variable",
           |    "groupby_attrs": ["kind"],
           |    "aggregations": [{"type": "join_new", "attribute_name": "member"}]
           |  },
           |  "catalog_dict": [
           |    {"kind": "grid", "member": 1, "variable": "key_sum", "path": "$base"},
           |    {"kind": "grid", "member": 2, "variable": "key_sum", "path": "$base"}
           |  ]
           |}""".stripMargin
      val jsonPath = s"/tmp/graft_opendap_cat_${tmpToken(dir)}.json"
      Files.writeString(Paths.get(jsonPath), json)
      val cat = graft.catalog.EsmCatalog.open(s, jsonPath,
          storageOptions = Map("graft.kerchunk.decode" -> "coords",
            graft.sources.Dap2Index.MaxChunkBytesOption -> "64"))
        .search(Map("kind" -> "grid"))
      cat.toDatasetDict(Nil)("grid")
        .groupBy(col("member"), col("variable"))
        .agg(count(col("value")).as("n_values"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"))
        .orderBy("member", "variable")
    }),

    "load_opendap" -> ((s, dir) => {
      // the reference's LAST DataFormat (cat.py:56-64; source.py:70-137
      // hands opendap urls to pydap): the native DAP2 client against a
      // loopback fixture server whose arrays derive from the sf dir's
      // nation/region parquet, so the oracle recomputes every value from
      // the same tables. A small chunk budget forces multi-band hyperslab
      // requests (`?var[lo:hi]...`) — the protocol's scale path — and the
      // decode runs through the shared kerchunk coords plane. Types cover
      // Int32 / XDR-promoted Int16 / packed Byte / Float32 / Float64, and
      // key_sum is served as a real DAP GRID (r10): its nation/region maps
      // flatten to coordinate variables (pydap-style) and every banded
      // .dods answer is a multi-variable Grid response the client walks.
      val base = graft.harness.Dap2Fixture.ensure(s, dir)
      graft.catalog.EsmDataSource("od", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords",
            graft.sources.Dap2Index.MaxChunkBytesOption -> "64"))
        .openAsset(s, base, "opendap")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "save_zarr_roundtrip" -> ((s, dir) => {
      // r11: the zarr v2 SINK, gated end to end — build a tidy plane from
      // nation/region (coords = rank in key order, the Dap2 fixture's
      // construction), WRITE it as a real zarr directory store (banded
      // chunks + zlib), read the store back through the engine's own
      // ZarrDirectoryIndex + decode plane, and emit the decoded cells;
      // the oracle re-derives every cell from the same parquet, so a
      // writer/reader disagreement on any byte of the format fails.
      // scripts/zarr_check.py additionally re-reads the store with an
      // independent pure-python parse (json + zlib + struct).
      val out = s"/tmp/graft_zarr_rt_${tmpToken(dir)}"
      // (the writer clears any pre-existing store itself)
      // a 256-byte budget forces multi-chunk banding; r12 adds <i4/<i8
      // value variables and |S/<U label vectors to the plane
      graft.sources.ZarrWriter.write(zarrTidyPlane(s, dir), out,
        maxChunkBytes = 256, dtypes = zarrTidyDtypes(ucs4 = true))
      readZarrStoreCells(s, out)
    }),

    "save_zarr_v3_roundtrip" -> ((s, dir) => {
      // r11: the zarr v3 SINK with sharding_indexed — the same tidy plane
      // as save_zarr_roundtrip (shared builder), written as a v3 store
      // whose objects pack 2 inner chunk bands each behind a crc32c'd
      // trailing index, read back through the engine's own v3 + sharding
      // reader. The v2 oracle is REFERENCED (not copied) in oracleSql —
      // the format swap must be invisible to the cells.
      // scripts/zarr3_check.py additionally re-reads the store with an
      // independent pure-python parse (json + gzip + struct + crc32c).
      val out = s"/tmp/graft_zarr3_rt_${tmpToken(dir)}"
      // r12: the v3 arm compresses with ZSTD (the codec v3 stores in the
      // wild increasingly default to) and carries the dtype-breadth
      // variables — |S labels ride the core r{8n} raw-bits type, the <U
      // vector writes as |S (core v3 has no UCS-4 fixed string)
      graft.sources.ZarrWriter.writeV3(zarrTidyPlane(s, dir), out,
        maxChunkBytes = 256, shardInnerChunks = 2,
        dtypes = zarrTidyDtypes(ucs4 = false), codec = "zstd")
      readZarrStoreCells(s, out)
    }),

    "save_zarr_v3_blosc" -> ((s, dir) => {
      // r14: the v3 sink's BLOSC arm — the writer reuses BloscCodec's own
      // blosc1-lz4 encoder (byte-shuffle at the element width, c-blosc's
      // split and memcpy-fallback rules) so v3 stores can target
      // blosc-preferring consumers with the same breadth the reader
      // already decodes. Same tidy plane, UNSHARDED this time (plain
      // chunk objects pin the bare bytes+blosc chain; the zstd twin pins
      // sharding), read back through the engine's own v3 reader, whose
      // blosc path decodes by the self-describing frame header. The v2
      // oracle is REFERENCED — the codec swap must be invisible to the
      // cells. scripts/zarr3_check.py re-decodes the store with an
      // independent pure-python blosc1 + LZ4-block + unshuffle walk.
      val out = s"/tmp/graft_zarr3_blosc_${tmpToken(dir)}"
      graft.sources.ZarrWriter.writeV3(zarrTidyPlane(s, dir), out,
        maxChunkBytes = 256,
        dtypes = zarrTidyDtypes(ucs4 = false), codec = "blosc")
      readZarrStoreCells(s, out)
    }),

    "save_zarr_filters_roundtrip" -> ((s, dir) => {
      // r13: the WRITE half of the v2 numcodecs FILTER plane — delta
      // (integer wraparound diffs) + shuffle (byte transpose) +
      // fletcher32 (trailing checksum) on one monotonic <i8 variable (the
      // classic coordinate-array compression recipe) and shuffle alone on
      // a negative-valued <i4; a 64-byte budget forces multi-chunk
      // banding so the delta chain crosses edge-padded chunks. Read back
      // through the engine's own reader (ZarrCodec inverts the chain);
      // the oracle re-derives every cell from nation, and
      // scripts/zarr_filters_check.py re-reads the store with an
      // independent pure-python inversion (checksum verified, unshuffle,
      // cumsum).
      import org.apache.spark.sql.expressions.Window
      val n = T(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"))
        .withColumn("i", (row_number().over(Window.orderBy("k")) - 1).cast(LongType))
      val noLabel = lit(null).cast(StringType).as("label")
      val plane = n.select(lit("t_mono").as("variable"),
          typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
          (lit(1000000L) + col("k") * 3L).cast(DoubleType).as("value"), noLabel)
        .unionByName(n.select(lit("t_wide").as("variable"),
          typedLit(Seq("nation")).as("dims"), array(col("i")).as("coords"),
          (col("k") * 1000L - 9000L).cast(DoubleType).as("value"), noLabel))
      val out = s"/tmp/graft_zarr_filt_${tmpToken(dir)}"
      graft.sources.ZarrWriter.write(plane, out, maxChunkBytes = 64,
        dtypes = Map("t_mono" -> "<i8", "t_wide" -> "<i4"),
        filters = Map("t_mono" -> Seq("delta", "shuffle", "fletcher32"),
          "t_wide" -> Seq("shuffle")))
      readZarrStoreCells(s, out)
    }),

    "load_opendap_labels" -> ((s, dir) => {
      // r11: DAP2 String atomic arrays (coordinate labels — e.g. station
      // or region names on real ESM servers). The fixture serves r_name
      // as a count-once XDR string vector; the client walks the
      // variable-length spans, decodeLabels parses them via the native
      // XdrStringArray expression, and the oracle pins every decoded
      // label against the same region parquet the server reads.
      val base = graft.harness.Dap2Fixture.ensure(s, dir)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeLabels(entries,
          graft.sources.Dap2Index.materialize(entries))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_struct" -> ((s, _) => {
      // r12: DAP2 Structure flattening (pydap semantics, source.py:85-90)
      // — an atomic member and a Grid inside `Structure { ... } obs;`
      // surface as dotted variables (obs.depth, obs.sst + bare-named
      // maps), their data requested with the dotted DAP2 projection,
      // through the full openAsset('opendap') path. Values are
      // closed-form, so the oracle regenerates everything from range().
      val base = graft.harness.Dap2Fixture.ensureStruct(s)
      graft.catalog.EsmDataSource("od_s", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, base, "opendap")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq" -> ((s, _) => {
      // r13: DAP2 one-level Sequence decode — the row-structured DAP type
      // common on in-situ/observational OPeNDAP feeds. The fixture serves
      // `Sequence { Int32 depth; Float64 temp; String station; } cast;`
      // as a real 0x5A/0xA5-marked XDR record stream; decodeSequences
      // walks it into tidy per-member rows over the record index (pydap's
      // presentation, reference path source.py:85-90). Values are
      // closed-form, so the oracle regenerates everything from range();
      // numeric members land on `value`, the String member on `label`.
      val base = graft.harness.Dap2Fixture.ensureSeq(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries)
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_proj" -> ((s, _) => {
      // r13: Sequence member PROJECTION pushdown — the DAP2 dotted-name
      // constraint (`?cast.depth,cast.station`) asks the SERVER for two
      // of the three members, so a 50-member in-situ feed never ships
      // unused columns. The fixture answers the projected record stream
      // in declaration order (the libdap/pydap convention); the projected
      // rows must land exactly on load_opendap_seq's surface minus the
      // unrequested member — the oracle is that closed form.
      val base = graft.harness.Dap2Fixture.ensureSeq(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          project = Map("cast" -> Seq("depth", "station")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_sel" -> ((s, _) => {
      // r14: Sequence SELECTION pushdown — the DAP2 relational constraint
      // (`?cast.depth,cast.temp&cast.depth>10&cast.temp<11`) asks the
      // SERVER to filter records before serializing, the standard way
      // in-situ clients avoid shipping a whole feed (pydap compiles its
      // ConstraintExpression to the same suffix). Two predicates, both
      // effective (depth>10 keeps i>=2, temp<11 keeps i<=4), composed
      // with a member projection in ONE constraint; the server numbers
      // records after filtering, so coords are the post-filter indices
      // 0..2. The Dap2Spec twin asserts by request URL that the
      // unfiltered stream is never fetched.
      val base = graft.harness.Dap2Fixture.ensureSeq(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          project = Map("cast" -> Seq("depth", "temp")),
          select = Map("cast" -> Seq("depth>10", "temp<11")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_nested" -> ((s, _) => {
      // r14: NESTED Sequence decode — the profile-of-casts shape
      // (`Sequence { Int32 station; Sequence { Int32 depth; Float64 o2; }
      // profile; Float64 lat; } prof;`). DAP 2.0 §7.2.3 serializes the
      // nested member recursively (its own 0x5A records + 0xA5 terminator
      // inline, mid-declaration here); the walk explodes inner records to
      // tidy rows over a TWO-long coords vector (outer, inner), outer
      // scalars keep the one-long form. Record 0's inner stream is empty
      // — no phantom rows. All values closed-form, so the oracle
      // regenerates both levels from range().
      val base = graft.harness.Dap2Fixture.ensureSeqNested(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries)
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_nested_sel" -> ((s, _) => {
      // r14: selection pushdown COMPOSED across both sequence levels —
      // an outer predicate (station>100 drops outer record 0) and an
      // INNER-member predicate (profile.o2>=4.0: DAP2's innermost-
      // sequence selection — the server filters inner records, outer
      // records remain, possibly with an EMPTY inner stream, which
      // i=3's record exercises) ride one constraint expression. Both
      // levels renumber post-filter; the oracle re-derives the whole
      // two-level surface with row_number() over the kept rows.
      val base = graft.harness.Dap2Fixture.ensureSeqNested(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          select = Map("prof" -> Seq("station>100", "profile.o2>=4.0")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_deep" -> ((s, _) => {
      // r15: sequences nested THREE levels deep — the r14 one-level
      // boundary removed (the full pydap nesting surface): the recursive
      // XDR walk explodes each level under one more coords slot, dims
      // carry the chain of enclosing sequence paths, and empty streams
      // at every depth (outer records 0/3 have no profiles, profile
      // (2,1) has no samples) produce no phantom rows. All values
      // closed-form, so the oracle regenerates all three levels from
      // range() cross joins.
      val base = graft.harness.Dap2Fixture.ensureSeqDeep(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries)
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_deep_sel" -> ((s, _) => {
      // r15: selection pushdown composed across ALL THREE levels in one
      // constraint — station>100 drops outer record 0, profile.o2>=3.5
      // empties record 1's profile stream, profile.samples.val<201.0
      // drops sample (2,0,1) — each level filters ITS sequence's records
      // (DAP2's innermost-sequence semantics) and renumbers post-filter.
      // The oracle re-derives the whole surface with per-level
      // row_number() over the kept rows.
      val base = graft.harness.Dap2Fixture.ensureSeqDeep(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          select = Map("deep" -> Seq("station>100", "profile.o2>=3.5",
            "profile.samples.val<201.0")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_array" -> ((s, _) => {
      // r16: ARRAY members inside a Sequence — the last pydap-surface
      // refusal on the opendap plane removed (the in-situ profile shape:
      // a fixed-geometry vector per record). Every array wire form in
      // one record walk: Float64 with the doubled count word, Byte
      // packed + padded, String count-once, and a Float32 array inside
      // a NESTED sequence; each element explodes under (record,
      // element…) coords with the member's declared dim names appended
      // to the enclosing-sequence dims. All values closed-form, so the
      // oracle regenerates everything from range() cross joins. A
      // selection composes: station > 100 drops record 0 and the server
      // renumbers post-filter (arrays ride along untouched).
      val base = graft.harness.Dap2Fixture.ensureSeqArray(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          select = Map("arr" -> Seq("station>100")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_opendap_seq_in_struct" -> ((s, _) => {
      // r15: a Sequence nested inside a STRUCTURE decodes under its
      // dotted name (pydap's `obs.cast` surface — previously a loud
      // refusal): Structures add no wire framing, so the `?obs.cast`
      // projection answers the ordinary 0x5A/0xA5 record stream while
      // the constrained DDS keeps the Structure shell, which the walk's
      // DDS echo check must resolve to the dotted declaration. A
      // selection composes under the dotted battery key (d>1 drops
      // record 0; the server renumbers post-filter).
      val base = graft.harness.Dap2Fixture.ensureSeqInStruct(s)
      val entries = graft.sources.Dap2Index.read(s, base)
      graft.sources.Dap2Index.decodeSequences(entries,
          select = Map("obs.cast" -> Seq("d>1")))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"), col("label"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf_glob" -> ((s, _) => {
      // multi-file datasets (source.py:102-107: '*' in url -> open_mfdataset;
      // the reference's own test glob, tests/test_source.py:41,71): BOTH
      // CMIP5 tasmax files — one classic CDF, one HDF5/netCDF-4, sniffed
      // per file — nested-concatenated along the inferred record dim
      // (time), so the collection reads as time=4. Oracle = file 1's 87
      // pinned values + file 2's 56 time-carrying values shifted by +2,
      // both from independent python parses.
      val glob = "/root/reference/tests/sample_data/cmip/cmip5/output1/NIMR-KMA/HadGEM2-AO/" +
        "rcp85/mon/atmos/Amon/r1i1p1/v20130815/tasmax/*.nc"
      graft.catalog.EsmDataSource("ng", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, glob, "netcdf")
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf4" -> ((s, _) => {
      // the OTHER half of the reference's `netcdf` dispatch (source.py:97-109):
      // an HDF5-backed netCDF-4 file — a REAL CESM-LE sample from its own
      // test data — through the openAsset dispatch itself with labeled
      // coordinates: container-structure parse (sources.Hdf5Index) ->
      // chunk-map entries -> positioned reads -> zlib+shuffle inversion ->
      // dimension-scale labels, all on the shared kerchunk machinery.
      val nc = "/root/reference/tests/sample_data/cesm-le/" +
        "b.e11.B1850C5CN.f09_g16.005.pop.h.SHF.200001-209912.nc"
      graft.catalog.EsmDataSource("n4", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, nc, "netcdf")
        .filter(col("variable").isin("TLAT", "TLONG", "KMT", "dz", "grav"))
        .select(col("variable"),
          array_join(col("dims"), ".").as("dims"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf4_v4" -> ((s, _) => {
      // HDF5 1.10+ "latest format" (data layout v4): a deterministic
      // hand-encoded fixture covering the three non-trivial chunk index
      // types — extensible array (record variable), paged fixed array
      // (with an unwritten page = fill), and a v2-btree chunk index —
      // through the same openAsset dispatch as any .nc asset. The oracle
      // re-generates every value from the fixture's closed-form formulas.
      val nc = ensureHdf5V4Fixture()
      graft.catalog.EsmDataSource("n4v4", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(s, nc, "netcdf")
        .select(col("variable"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"))
        .orderBy("variable", "coord_key")
    }),

    "load_netcdf_cf" -> ((s, _) => {
      // CF-convention decode (`graft.kerchunk.decode=cf` — the
      // xarray.open_dataset defaults mask_and_scale + decode_times the
      // reference relies on, source.py:70-137): a hand-encoded CDF-1
      // fixture with a packed int16 variable (scale/offset/_FillValue), a
      // float variable with missing_value, a standard-calendar time axis,
      // two FIXED-calendar axes (noleap across a Gregorian leap year,
      // 360_day) that decode to calendar-date strings — the cftime
      // analogue — plus an _Unsigned byte variable (stored -1 must decode
      // as 255 and a stored-negative fill must still mask) and a JULIAN
      // time axis whose day 59 is 1900-02-29, a date gregorian arithmetic
      // cannot produce. The oracle re-applies the identical arithmetic in
      // DuckDB from the closed-form raw values (harness.Nc3CfFixture),
      // including independent SQL implementations of the fixed-month and
      // julian calendar math.
      val nc = ensureCfFixture()
      graft.catalog.EsmDataSource("cf", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "cf"))
        .openAsset(s, nc, "netcdf")
        .select(col("variable"),
          array_join(transform(col("coords"), c => c.cast("string")), ".").as("coord_key"),
          col("value"),
          // calendar string first: since the r10 julian instant fast path,
          // julian rows carry BOTH — time_cal stays the authoritative
          // calendar rendering, time_instant pins the timeline conversion
          coalesce(col("time_cal"), date_format(col("time"), "yyyy-MM-dd HH:mm:ss"))
            .as("time_str"),
          date_format(col("time"), "yyyy-MM-dd HH:mm:ss").as("time_instant"))
        .orderBy("variable", "coord_key")
    }),

    "load_catalog_netcdf" -> ((s, _) => {
      // the reference's FLAGSHIP workflow over its own catalog + data:
      // open_esm_datastore(cesm1-lens-netcdf.json) -> search ->
      // to_dataset_dict (core.py:606-762), with every asset an HDF5-backed
      // netCDF-4 file decoded natively. The './tests/…' relative asset
      // paths resolve via the documented descriptor-ancestor fallback;
      // join_new stamps member_id as a coordinate column. Per-member
      // count/min/max over the decoded SHF values are exact (no
      // order-dependent float sums).
      val cat = graft.catalog.EsmCatalog.open(s,
          "/root/reference/tests/sample-catalogs/cesm1-lens-netcdf.json",
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .search(Map("experiment" -> "20C", "member_id" -> Seq(2, 9), "variable" -> "SHF"))
      val ds = cat.toDatasetDict(Nil)("ocn.20C.pop.h")
      ds.filter(col("variable") === "SHF")
        .groupBy(col("member_id"))
        .agg(count(col("value")).as("n_values"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"))
        .orderBy("member_id")
    }),

    "load_catalog_netcdf_cf" -> ((s, _) => {
      // the SAME flagship catalog flow as load_catalog_netcdf but with
      // graft.kerchunk.decode=cf — the xarray.open_dataset defaults: the
      // SHF land cells (_FillValue 9.97e36) mask to null, and the noleap
      // time axis ("days since 0000-01-01", calendar noleap) decodes to
      // calendar-date strings spanning the filename's 192001-200512
      // period. Oracle literals were derived INDEPENDENTLY from the same
      // .nc bytes by scripts/h5survey.py (pure-python HDF5 reader) +
      // cf_check.py's fixed_cal_date (python noleap arithmetic).
      val cat = graft.catalog.EsmCatalog.open(s,
          "/root/reference/tests/sample-catalogs/cesm1-lens-netcdf.json",
          storageOptions = Map("graft.kerchunk.decode" -> "cf"))
        .search(Map("experiment" -> "20C", "member_id" -> Seq(2, 9), "variable" -> "SHF"))
      val ds = cat.toDatasetDict(Nil)("ocn.20C.pop.h")
      val shf = ds.filter(col("variable") === "SHF")
        .groupBy(col("member_id").cast("long").as("member_id"))
        .agg(count(lit(1)).as("n_raw"),
          count(col("value")).as("n_kept"), // count(col) skips the masked nulls
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"))
      val tspan = ds.filter(col("variable") === "time")
        .groupBy(col("member_id").cast("long").as("member_id"))
        .agg(min(col("time_cal")).as("t_min"), max(col("time_cal")).as("t_max"))
      shf.join(tspan, "member_id").orderBy("member_id")
    }),

    "scan_catalog_dict" -> ((s, _) => {
      CatalogReader.fromDict(s, Seq(
        Map("component" -> "ocn", "experiment" -> "20C", "variable" -> "SHF", "scode" -> 482L),
        Map("component" -> "ocn", "experiment" -> "CTRL", "variable" -> "REGION_MASK", "scode" -> 483L),
        Map("component" -> "atm", "experiment" -> "RCP85", "variable" -> "FLNS", "scode" -> 484L),
        Map("component" -> "atm", "experiment" -> "20C", "variable" -> "FLNSC", "scode" -> null),
      )).orderBy("component", "experiment", "variable")
    }),

    "decode_iterable_cols" -> ((s, dir) => {
      val docs    = T(s, dir, "documents")
      val literal = concat(lit("('"), col("lang"), lit("', '"), col("source"), lit("',)"))
      docs.select(col("doc_id"), CatalogReader.decodeIterable(literal).as("arr"))
        .select(col("doc_id"),
          element_at(col("arr"), 1).as("elem1"),
          element_at(col("arr"), 2).as("elem2"),
          size(col("arr")).as("n"))
        .orderBy("doc_id")
    }),

    // ===== catalog sink (#5) =====

    "save_catalog" -> ((s, dir) => {
      val df = T(s, dir, "documents").select("lang", "source").distinct()
        .withColumn("variable", array(col("lang"), col("source")))
      val cat = new EsmCatalog(s,
        EsmCatalogModel(esmcatVersion = "0.2.0", id = Some("rt"),
          assets = Assets(columnName = "path", format = Some("parquet")), catalogDict = Some(Nil)),
        df, Set("variable"), Map("variable" -> CatalogReader.ContainerType.TupleT))
      val outDir   = s"/tmp/graft_save_${tmpToken(dir)}"
      val jsonPath = this.synchronized { CatalogWriter.save(cat, "rt", outDir, "file") }
      val (_, table) = CatalogReader.load(s, jsonPath)
      table.df.select(col("lang"), col("source"), array_join(col("variable"), ",").as("variable_joined"))
        .orderBy("lang", "source")
    }),

    // ===== the search algebra (#6-12, #33) =====

    "search_exact" -> ((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "part"),
        Map("p_brand" -> Seq("Brand#13", "Brand#42"), "p_size" -> Seq(13, 18, 35)), None)
        .select("p_partkey", "p_brand", "p_size", "p_type").orderBy("p_partkey")
    }),

    "search_regex" -> ((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "part"),
        Map("p_type" -> Seq("^ECO.*", ".*DARD$")), None)
        .select("p_partkey", "p_type").orderBy("p_partkey")
    }),

    "search_null" -> ((s, dir) => {
      val o = T(s, dir, "orders").withColumn("o_pri_null",
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast(StringType))
          .otherwise(col("o_orderpriority")))
      QueryCompiler.search(o, Map("o_pri_null" -> Seq(null)))
        .select("o_orderkey").orderBy("o_orderkey")
    }),

    "search_iterable_membership" -> ((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("tags", array(col("lang"), col("source")))
      QueryCompiler.search(docs, Map("tags" -> Seq("en")), columnsWithIterables = Set("tags"))
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    "search_empty_query" -> ((s, dir) => {
      QueryCompiler.search(T(s, dir, "part"), Map.empty)
        .select("p_partkey", "p_brand").orderBy("p_partkey")
    }),

    "search_require_all_on" -> ((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "lineitem"),
        Map("l_returnflag" -> Seq("R", "A")), Some(Seq("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    "search_derived_union" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "lang", "source")
      val reg = new DerivedVariableRegistry()
        .register(DerivedVariable("synthetic",
          Map("source" -> Seq("src7"), "lang" -> Seq("en")), identity))
      val cat = new EsmCatalog(s,
        EsmCatalogModel(esmcatVersion = "0.2.0", id = Some("docs"),
          assets = Assets(columnName = "source", format = Some("parquet")),
          aggregationControl = Some(AggregationControl("source", List("lang"), Nil)),
          catalogDict = Some(Nil)),
        docs, Set.empty, Map.empty, reg)
      cat.search(Map("source" -> Seq("src3", "synthetic")))
        .df.select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    "validate_query" -> ((s, dir) => {
      val (norm, _) = QueryCompiler.normalize(
        Map("p_brand" -> "Brand#13", "p_size" -> Seq(1, 2)), T(s, dir, "part").columns.toSeq)
      import s.implicits._
      norm.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v.toString)) }
        .toDF("col_name", "value").orderBy("col_name", "value")
    }),

    // ===== grouping, keys, stats (#13-16, #34) =====

    "group_keys" -> ((s, dir) => {
      adhocCatalog(s, T(s, dir, "lineitem"), List("l_returnflag", "l_linestatus"))
        .keysInfo.orderBy("key")
    }),

    "keys_info" -> ((s, dir) => {
      // all-null groupby attr is pruned (cat.py:26-45); mixed-null would raise
      val li = T(s, dir, "lineitem").withColumn("dcpp_init_year", lit(null).cast(StringType))
      adhocCatalog(s, li, List("l_returnflag", "dcpp_init_year", "l_linestatus"))
        .keysInfo.orderBy("key")
    }),

    "unique" -> ((s, dir) => {
      val cat = adhocCatalog(s, T(s, dir, "documents").select("lang", "source"), List("lang"))
      import s.implicits._
      cat.uniqueValues.toSeq.flatMap { case (c, vs) => vs.map(v => (c, v)) }
        .toDF("col_name", "value").orderBy("col_name", "value")
    }),

    "nunique" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("lang", "source")
        .withColumn("tags", array(col("lang"), col("source")))
      adhocCatalog(s, docs, List("lang"), iterables = Set("tags"))
        .nunique.orderBy("col_name")
    }),

    "repr_stats" -> ((s, dir) => {
      val cat = adhocCatalog(s, T(s, dir, "documents").select("lang", "source"), List("lang", "source"))
      import s.implicits._
      Seq(("n_assets", cat.df.count()), ("n_datasets", cat.length))
        .toDF("stat", "value").orderBy("stat")
    }),

    // ===== explode machinery (#17, #18) =====

    "minimal_explode" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        array(col("lang"), col("source")).as("a"),
        array(col("source"), col("lang")).as("b"),
        array(col("lang")).as("c"))
      MinimalExploder(docs).orderBy("doc_id", "a")
    }),

    "unpack_iterable_column" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), array(col("lang"), col("source")).as("tag"))
      QueryCompiler.unpackIterableColumn(docs, "tag").orderBy("doc_id", "tag")
    }),

    // ===== entry lookup & asset open (#19-24) =====

    "getitem_entry" -> ((s, dir) => {
      val cat   = adhocCatalog(s, T(s, dir, "lineitem"), List("l_returnflag", "l_linestatus"))
      val attrs = Seq("l_returnflag", "l_linestatus")
      cat.df.filter(cat.keyColumn(attrs) === lit("R.F"))
        .agg(count(lit(1)).as("n_assets"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    "load_asset" -> ((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None, Nil)
      src.openAsset(s, s"$dir/supplier.parquet", "parquet")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").orderBy("s_suppkey")
    }),

    "project_requested_vars" -> ((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None, Nil,
        requestedVariables = Seq("l_quantity", "bogus_var"))
      src.projectRequested(T(s, dir, "lineitem"), coords = lineKey)
        .orderBy(lineKey.map(col): _*)
    }),

    "preprocess_hook" -> ((s, dir) => {
      val hook: DataFrame => DataFrame =
        df => df.withColumn("revenue", col("l_extendedprice") * (lit(1) - col("l_discount")))
      val src = EsmDataSource("k", Nil, "path", None, Nil, preprocess = Some(hook))
      src.loadAsset(s, Map("path" -> s"$dir/lineitem.parquet"), "parquet", Nil)
        .select(lineKey.map(col) :+ col("revenue"): _*).orderBy(lineKey.map(col): _*)
    }),

    "expand_dims" -> ((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None,
        Seq(Aggregation(AggregationType.JoinNew, "experiment")))
      src.loadAsset(s, Map("path" -> s"$dir/nation.parquet", "experiment" -> "CTRL"), "parquet", Nil)
        .select("n_nationkey", "n_name", "experiment").orderBy("n_nationkey")
    }),

    "update_attrs" -> ((s, _) => {
      val src = EsmDataSource("ocn.20C", Nil, "path", None, Nil)
      import s.implicits._
      src.attrsFor(Map("experiment" -> "20C", "member" -> 5L)).toSeq
        .toDF("attr_key", "attr_value").orderBy("attr_key")
    }),

    // ===== aggregation composition (#25-28) =====

    "agg_join_new" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val frames = Seq("O", "F").map(st =>
        o.filter(col("o_orderstatus") === st)
          .select(col("o_orderkey"), lit(st).as("member_id"), col("o_totalprice").as("totalprice")))
      EsmDataSource("k", Nil, "path", None, Nil)
        .combineByCoords(frames, coords = Seq("o_orderkey", "member_id"))
    }),

    "agg_join_existing" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val frames = Seq(
        l.filter(year(col("l_shipdate")) <= 1997),
        l.filter(year(col("l_shipdate")) > 1997),
      ).map(_.select(lineKey.map(col) :+ col("l_quantity").as("quantity"): _*))
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    }),

    "agg_union" -> ((s, dir) => {
      val l = T(s, dir, "lineitem")
      val frames = Seq(
        l.select(lineKey.map(col) :+ col("l_quantity").as("quantity"): _*),
        l.select(lineKey.map(col) :+ col("l_extendedprice").as("extendedprice"): _*),
      )
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    }),

    "combine_by_coords" -> ((s, dir) => {
      val l = T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val frames = for {
        (v, e)   <- Seq("quantity" -> col("l_quantity"), "extendedprice" -> col("l_extendedprice"))
        yearPred <- Seq(year(col("l_shipdate")) <= 1997, year(col("l_shipdate")) > 1997)
      } yield l.filter(yearPred).select(lineKey.map(col) :+ e.as(v): _*)
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    }),

    // ===== materialization (#29-31) — real file-backed ESM pipeline =====

    "to_dataset_dict" -> ((s, dir) => PipelineDemo.datasetDictAsFrame(s, dir)),

    "to_datatree" -> ((s, dir) => {
      val cat  = PipelineDemo.open(s, dir)
      val tree = cat.toDatatree(PipelineDemo.coords, levels = Some(Seq("status")))
      import s.implicits._
      tree.toSeq.sortBy(_._1).map { case (p, d) => (p, d.count()) }
        .toDF("path", "n_rows").orderBy("path")
    }),

    "to_dask" -> ((s, dir) => {
      PipelineDemo.open(s, dir).search(Map("status" -> Seq("P")))
        .toDask(PipelineDemo.coords)
        .agg(count(lit(1)).as("n_rows"), dsum(col("totalprice")).as("sum_totalprice"))
    }),

    // ===== derived variables (#32) =====

    "derived_registry" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "n_chars")
      val reg = new DerivedVariableRegistry().register(DerivedVariable(
        "n_tokens_est", Map("variable" -> Seq("n_chars")),
        df => df.withColumn("n_tokens_est", floor(col("n_chars") / 5))))
      reg.updateDatasets(Map("d" -> docs), "variable")("d").orderBy("doc_id")
    }),

    // ===== tutorial registry (#35) =====

    "tutorial_urls" -> ((s, _) => {
      import s.implicits._
      // reference: intake_esm/tutorial.py:9-13
      Seq(
        ("aws_cesm2_le", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CESM2-LENS.json"),
        ("aws_cmip6", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CMIP6.json"),
        ("google_cmip6", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/GOOGLE-CMIP6.json"),
      ).toDF("name", "url").orderBy("name")
    }),

    // ===== extensions: dedup =====

    "dedup_exact" -> ((s, dir) => {
      Dedup.exact(T(s, dir, "documents"), Seq("text"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")
    }),

    "dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(T(s, dir, "documents"), "text", "doc_id")
        .select(col("content_hash"), col("n_dups"),
          concat_ws(",", transform(col("ids"), _.cast(StringType))).as("ids"))
        .orderBy("content_hash")
    }),

    "dedup_minhash_lsh" -> ((s, dir) => {
      // Property-style oracle (the ann_recall_check pattern): see
      // operators.DedupChecks.minhashProperties. probeMax = 500 is the FULL
      // corpus at the sf0.01 gate; at larger sf the ground-truth cost stays
      // O(probe²·overlap) instead of growing with the corpus.
      DedupChecks.minhashProperties(T(s, dir, "documents"))
    }),

    "dedup_simhash" -> ((s, dir) => {
      // Property-style oracle for the simhash blocking: see
      // operators.DedupChecks.simhashProperties (pigeonhole completeness at
      // hamming <= 3, pinned recall floor at radius 10).
      DedupChecks.simhashProperties(T(s, dir, "documents"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // checkpoint before the orderBy: range-partition sampling would
      // otherwise re-run the whole LSH+verify pipeline a second time just
      // to pick sort bounds for a few hundred rows
      Dedup.ngramJaccard(T(s, dir, "documents"), "text", "doc_id", n = 3, threshold = 0.3)
        .localCheckpoint(false)
        .orderBy("id_a", "id_b")
    }),

    "dedup_clusters" -> ((s, dir) => {
      // transitive duplicate clusters: connected components (large-star/
      // small-star) over the exact n-gram Jaccard pair graph — the
      // keep-one-per-CLUSTER closure production fuzzy dedup needs (A~B,
      // B~C clusters A,B,C even when the pair (A,C) was never emitted)
      val pairs = Dedup.ngramJaccard(T(s, dir, "documents"), "text", "doc_id",
        n = 3, threshold = 0.3)
      Dedup.clusterTable(pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
        .localCheckpoint(false) // don't re-run LSH+CC for the sort's range sampling
        .orderBy("doc_id")
    }),

    "dedup_clusters_clean" -> ((s, dir) => {
      // the application: keep the min-id member of every duplicate cluster
      val docs  = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.3)
      val drops = Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .localCheckpoint(false)
        .orderBy("doc_id")
    }),

    "dedup_substring" -> ((s, dir) => {
      // ExactSubstr spans: every 8-token window seen more than once in the
      // corpus, first occurrence canonical, the rest merged into maximal
      // per-doc removal spans (the real pipeline uses ~50-token windows;
      // 8 exercises multi-window merging on the ~54-token fixture docs)
      Dedup.exactSubstringSpans(T(s, dir, "documents"), "text", "doc_id", windowTokens = 8)
        .orderBy("doc_id", "span_start")
    }),

    "dedup_substring_clean" -> ((s, dir) => {
      // the application of dedup_substring: corpus with those spans cut out
      Dedup.removeSubstringSpans(T(s, dir, "documents"), "text", "doc_id", windowTokens = 8)
        .orderBy("doc_id")
    }),

    "dedup_exact_stats" -> ((s, dir) => {
      // duplication profile: cluster-size histogram, no member lists
      Dedup.exactDupStats(T(s, dir, "documents"), "text").orderBy("cluster_size")
    }),

    "dedup_incremental_near" -> ((s, dir) => {
      // near-dup recrawl: new docs (>= 250) against the standing corpus
      // (< 250). The corpus side is a PRECOMPUTED index (the persisted
      // artifact a real recrawl loop reloads — its text is scanned once at
      // build, zero times per batch); LSH candidates BETWEEN the sides
      // only, exact jaccard verify; same checkpoint-before-sort convention
      // as ngram_jaccard
      val docs = T(s, dir, "documents")
      val index = Dedup.buildNearDupIndex(docs.filter(col("doc_id") < 250),
          "text", "doc_id", n = 3, threshold = 0.3)
        .localCheckpoint(true) // materialized = the reloaded-artifact shape
      Dedup.crossNearDupWithIndex(docs.filter(col("doc_id") >= 250),
          index, "text", "doc_id", n = 3, threshold = 0.3)
        .localCheckpoint(false)
        .orderBy("id_batch", "id_corpus")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // daily-ingest shape: docs 250+ are the new batch, docs <250 the
      // standing corpus held as a precomputed ExactIndex (distinct texts +
      // bloom bytes); bloom pre-filter + exact anti-join confirm
      val docs   = T(s, dir, "documents")
      val index  = Dedup.buildExactIndex(docs.filter(col("doc_id") < 250), "text")
      Dedup.incrementalExactWithIndex(docs.filter(col("doc_id") >= 250), index, "text")
        .select("doc_id").orderBy("doc_id")
    }),

    "text_normalize" -> ((s, dir) => {
      // canonical normalization (NFC + line endings + controls +
      // whitespace): the fixture is ASCII, so both engines append the same
      // messy suffix — a decomposed e+U+0301 (must compose to é), CRLF,
      // a control byte, tab runs, newline-hugging spaces
      val messy = concat(col("text"),
        lit("  cafe"), lit("\u0301"), lit(" \t x\r\n  y "),
        lit("\u0001"), lit("z"))
      T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.normalizeText(messy).as("norm"),
          TextAnalysis.normalizeText(messy, lowercase = true).as("norm_lower"))
        .orderBy("doc_id")
    }),

    "dedup_paragraphs" -> ((s, dir) => {
      // corpus-wide exact paragraph dedup (RefinedWeb/MassiveText recipe).
      // The corpus is single-line, so the query builds a deterministic
      // multi-paragraph twin — each doc becomes (text ¶ shared-boilerplate
      // keyed by doc_id%7 ¶ prefix50) — and the oracle applies the
      // identical construction; the shared paragraph gives cross-document
      // dups, the prefix gives same-first-50-chars collisions, and the
      // corpus's own exact-dup docs duplicate everything
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("shared boilerplate "), (col("doc_id") % 7).cast(StringType)),
          substring(col("text"), 1, 50)).as("text"))
      Dedup.duplicateParagraphMarks(docs, "text", "doc_id")
        .orderBy("doc_id", "para_idx")
    }),

    "dedup_paragraphs_clean" -> ((s, dir) => {
      // the application: rebuild each doc from its surviving paragraphs
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("shared boilerplate "), (col("doc_id") % 7).cast(StringType)),
          substring(col("text"), 1, 50)).as("text"))
      Dedup.removeDuplicateParagraphs(docs, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "dedup_incremental_semantic" -> ((s, dir) => {
      // semantic recrawl: new embeddings (vec_id >= 250) against the
      // standing corpus (< 250) held as a precomputed SemanticIndex
      // (centroids + KEPT survivors with vectors — corpus scanned once at
      // build, zero times per batch). Property oracle (the
      // pipeline_semdedup convention — kmeans centroid float sums are
      // agg-order-sensitive, so rows aren't portable but the invariants
      // are): every batch doc exactly once; every flagged doc's dup_of is
      // a kept index doc in the SAME top cell at cosine >= t, and the
      // EARLIEST such; every unflagged doc has NO kept same-cell doc at
      // cosine >= t.
      val emb = T(s, dir, "embeddings")
      val t = 0.4
      val built = Dedup.buildSemanticIndex(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", threshold = t, nCells = 8, kmeansIters = 2)
      val index = Dedup.SemanticIndex(built.centroids.localCheckpoint(true),
        built.kept.localCheckpoint(true)) // materialized = the reloaded-artifact shape
      val res = Dedup.incrementalSemanticWithIndex(
          emb.filter(col("vec_id") >= 250), index, "vec_id", "embedding", t)
        .localCheckpoint(true)
      val kept = index.kept.select(col("id").as("kid"), col("top_cell"),
        col("vec"))
      val flagged = res.filter(!col("keep"))
      val badFlag = flagged
        .join(kept, flagged("dup_of") === kept("kid") &&
          flagged("top_cell") === kept("top_cell"), "left")
        .join(T(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("__bv")), Seq("id"))
        .filter(col("kid").isNull ||
          graft.functions.VectorFunctions.vec_cosine(col("__bv"), col("vec")) < t)
        .count()
      val notEarliest = flagged
        .join(T(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("__bv")), Seq("id"))
        .join(kept, Seq("top_cell"))
        .filter(col("kid") < col("dup_of") &&
          graft.functions.VectorFunctions.vec_cosine(col("__bv"), col("vec")) >= t)
        .count()
      val missed = res.filter(col("keep"))
        .join(T(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("__bv")), Seq("id"))
        .join(kept, Seq("top_cell"))
        .filter(graft.functions.VectorFunctions.vec_cosine(col("__bv"), col("vec")) >= t)
        .count()
      import s.implicits._
      Seq((res.count(), badFlag, notEarliest, missed, flagged.count() > 0))
        .toDF("n_total", "bad_flag", "not_earliest", "missed", "any_flagged")
    }),

    "dedup_embedding" -> ((s, dir) => {
      // exact cosine pairs inside a blocking key (label): Σ|block|² shape,
      // never a cross join — the oracle-checkable semantic-dedup baseline.
      // The LSH-candidate variant (Dedup.embeddingNearDup) is the unblocked
      // scale path, cross-validated against brute force in OperatorsSpec.
      Dedup.embeddingBlockedPairs(T(s, dir, "embeddings"), "vec_id", "embedding",
          blockCol = "label", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    "dedup_url_canon" -> ((s, dir) => {
      // crawl-frontier dedup: a deterministic url column derived from doc_id
      // (the documents fixture has none) exercising every canonicalization
      // rule — tracking params + shuffled order + fragment + trailing slash
      // + case (branches 0/1 merge), default-port strip (2/3 merge), the
      // NON-stripped cross-scheme port http://h:443 (4 stays distinct), a
      // literal '?' inside the query (5), and null/empty passthrough (6/7).
      val urls = T(s, dir, "documents").select(col("doc_id"), expr(
        """CASE CAST(doc_id % 8 AS INT)
          |  WHEN 0 THEN 'http://Example.COM/page' || CAST(doc_id div 8 AS STRING) || '/?b=2&a=1&utm_source=x#frag'
          |  WHEN 1 THEN 'http://example.com:80/page' || CAST(doc_id div 8 AS STRING) || '?a=1&b=2'
          |  WHEN 2 THEN 'https://example.com:443/page' || CAST(doc_id div 8 AS STRING)
          |  WHEN 3 THEN 'https://example.com/page' || CAST(doc_id div 8 AS STRING) || '/'
          |  WHEN 4 THEN 'http://example.com:443/page' || CAST(doc_id div 8 AS STRING)
          |  WHEN 5 THEN 'http://example.com/q' || CAST(doc_id div 8 AS STRING) || '?a=1?x&b=2&gclid=z'
          |  WHEN 6 THEN NULL
          |  ELSE ''
          |END""".stripMargin).as("url"))
      graft.operators.UrlCanon.dedupByCanonicalUrl(urls, "url", "doc_id")
        .select("canonical_url", "survivor_id", "n_dups")
        .orderBy("survivor_id")
    }),

    "pipeline_curriculum" -> ((s, dir) => {
      // curriculum training order: difficulty = floor of the Zipf-surprisal
      // mean (exact integers both sides), then bucket-major md5-shuffled
      // positions within each of 4 shards
      val scored = TextAnalysis.zipfSurprisal(T(s, dir, "documents"), "text", "doc_id", vocabK = 16)
        .select(col("id").as("doc_id"), floor(col("mean_bits")).cast("long").as("bucket"))
      graft.operators.DatasetSplit.curriculumShards(scored, "doc_id", "bucket", shards = 4)
        .select(col("doc_id"), col("bucket"), col("shard"), col("pos"))
        .orderBy("doc_id")
    }),

    "pipeline_snapshot_delta" -> ((s, dir) => {
      // incremental-recrawl shape: old = docs except %7, new = docs except
      // %11 with %5 texts revised — the delta classifies every id
      val docs = T(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.operators.DatasetSplit.snapshotDelta(oldSnap, newSnap, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "q_exists_subquery" -> ((s, dir) => {
      // correlated EXISTS — Catalyst rewrites it to a left-semi hash join
      T(s, dir, "orders").createOrReplaceTempView("ord_v")
      T(s, dir, "lineitem").createOrReplaceTempView("li_v")
      s.sql(
        """SELECT o_orderkey, o_orderstatus
          | FROM ord_v o
          | WHERE EXISTS (SELECT 1 FROM li_v l
          |               WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          |   AND o_custkey % 500 = 0
          | ORDER BY o_orderkey""".stripMargin)
    }),

    "q_window_range" -> ((s, dir) => {
      // RANGE frame over event time: trailing-90-day spend per customer —
      // value-based frames are the time-series shape rows-frames can't express
      val day = 86400000000L
      val w = Window.partitionBy("o_custkey").orderBy("od_us")
        .rangeBetween(-90L * day, 0)
      T(s, dir, "orders")
        .filter(col("o_custkey") % 200 === 0)
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .withColumn("trailing_90d_spend", sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
        .select("o_custkey", "o_orderkey", "od_us", "trailing_90d_spend")
        .orderBy("o_custkey", "od_us", "o_orderkey")
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
      T(s, dir, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("running_spend",
          sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_quantiles" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
          percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "q_sketch_stats" -> ((s, dir) => {
      // the 100 TB statistics path: HLL++ distinct counts and quantile
      // sketches instead of exact shuffles. Property-style oracle: the
      // exact values travel alongside booleans asserting the sketches land
      // within their error bounds (DuckDB emits the exact values + TRUE).
      // exact-distinct and the sketch aggregates are SEPARATE aggs joined on
      // the 3-row group key: mixing COUNT(DISTINCT) with object aggregates in
      // one agg makes the distinct-rewrite Expand allocate a QuantileSummaries
      // + HLL + percentile buffer per (key, orderkey) PARTIAL group — ~450k
      // heavy sketch buffers instead of 3 (measured 94 s vs 1.1 s at sf0.1)
      val li = T(s, dir, "lineitem")
      val nd = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_nd"))
      val sk = li.groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("hll_nd"),
          percentile(col("l_quantity"), lit(0.5)).as("exact_median"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("apx_median"))
      nd.join(sk, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_nd"),
          (abs(col("hll_nd") - col("exact_nd")).cast(DoubleType) / col("exact_nd") <= 0.05)
            .as("hll_ok"),
          col("exact_median"),
          (abs(col("apx_median") - col("exact_median")) <= lit(1.0)).as("median_ok"))
        .orderBy("l_returnflag")
    }),

    "pipeline_sample_hash" -> ((s, dir) => {
      // reproducible ~10% sample: md5-bucket < 10 of 100 — unlike rand()/
      // TABLESAMPLE this survives reruns, repartitions, and engine changes
      val b = graft.operators.DatasetSplit.portableBucket(Seq(col("doc_id")), seed = 7)
      T(s, dir, "documents")
        .filter(b < 10)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),

    "text_top_ngrams" -> ((s, dir) => {
      // corpus-level bigram frequencies: explode word shingles -> count -> top 20
      graft.operators.Dedup.shingleRows(T(s, dir, "documents"), "text", "doc_id", n = 2)
        .groupBy("sh").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("sh"))
        .limit(20)
    }),

    "text_repetition" -> ((s, dir) => {
      // Gopher-style repetition gates: top-token fraction + duplicate-bigram
      // fraction, exploded-token groupBys (partial counts shuffle, not text)
      TextAnalysis.repetitionSignals(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    "text_zipf_surprisal" -> ((s, dir) => {
      // unigram-LM quality scoring in the exact integer domain (bit-length
      // of corpus-frequency rank); vocabK = 16 on the 31-type fixture vocab
      // so roughly half the token stream is genuinely OOV
      TextAnalysis.zipfSurprisal(T(s, dir, "documents"), "text", "doc_id", vocabK = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    "text_classifier_score" -> ((s, dir) => {
      // fastText-style linear classifier INFERENCE (arXiv:1607.01759) over
      // hashed unigram+bigram features — the scoring pass of a DCLM/
      // fineweb-style quality filter, as one corpus scan with the weight
      // vector riding the plan as a single array literal. Weights here are
      // a deterministic function of the feature id ((fid·37) % 201 − 100,
      // dyadic k/128 grid) so the DuckDB oracle rebuilds the identical
      // model and the SUM is exact in any fold order — hash-green, not
      // approximately-equal.
      val dim = 4096
      val w = Array.tabulate(dim)(f => (f * 37) % 201 - 100)
      TextClassifier.scoreLinear(T(s, dir, "documents"), "text", "doc_id", w)
        .select(col("id").as("doc_id"), col("n_features"), col("logit"), col("label"))
        .orderBy("doc_id")
    }),

    "pipeline_classifier_train" -> ((s, dir) => {
      // the TRAINER half of the classifier plane: full-batch logistic
      // regression over the same hashed features, on a PLANTED separable
      // label (doc contains the token 'spark' — text-derived, so the
      // invariant is honest: the trainer must actually find the signal).
      // Float gradient sums are order-dependent in the last ulps, so the
      // oracle pins PROPERTIES (property-oracle pattern, SURVEY §9): the
      // quantized model — the exact engine-portable scoring plane — must
      // reproduce >= 95% of the planted labels, on a label split that is
      // genuinely two-sided.
      import graft.operators.TextClassifier
      val dim = 1024
      val docs = T(s, dir, "documents")
      val labeled = docs.withColumn("y",
        array_contains(Dedup.tokens(col("text")), "spark"))
      // lr 4 / 60 iters: full-batch GD on raw-count features needs the
      // hotter step — 40@1.0 underfits the 5,000-doc gate SF (81%),
      // 60@4.0 fully separates BOTH gate SFs (5000/5000, 500/500)
      val (w, b) = TextClassifier.train(labeled, "text", "y", dim, iters = 60, lr = 4.0)
      val maxAbs = math.max(math.max(w.map(math.abs).max, math.abs(b)), 1e-12)
      val scale  = 50.0 / maxAbs
      val q  = TextClassifier.quantize(w.map(_ * scale))
      val qb = TextClassifier.quantize(Array(b * scale)).head
      val scored = TextClassifier.scoreLinear(labeled, "text", "doc_id", q, qb)
      val agg = scored
        .join(labeled.select(col("doc_id").as("id"), col("y")), Seq("id"))
        .agg(sum(when(col("label") === col("y"), 1L).otherwise(0L)).as("ok"),
          count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("npos")).head()
      val acc = agg.getLong(0).toDouble / math.max(1L, agg.getLong(1))
      import s.implicits._
      Seq(
        ("label_nontrivial", agg.getLong(2) > 0 && agg.getLong(2) < agg.getLong(1)),
        ("quantized_accuracy", acc >= 0.95),
        ("weights_dim", w.length == dim),
      ).toDF("invariant", "ok").orderBy("invariant")
    }),

    "text_lang_id_model" -> ((s, dir) => {
      // r12: TRAINED language identification (the CCNet recipe: a
      // fastText-style one-vs-rest classifier over hashed char trigrams,
      // run before quality filtering) alongside the r2 heuristic. The
      // fixture plants id-derived separable classes whose SIGNAL is
      // text-derived (per-language vocabularies — the trainer must find
      // it); the quantized model's decisions are verified IN-PLAN
      // (property-oracle pattern, the pipeline_classifier_train
      // convention) because float gradient sums are order-dependent in
      // the last ulps. CorpusPipeline.clean takes the same model for its
      // language stage (CorpusPipelineSpec pins that path).
      import graft.operators.TextClassifier
      val langs = Seq("en", "fr", "de")
      val vocab = Map(
        "en" -> Seq("the", "quick", "brown", "research", "window",
          "through", "knowledge", "weather"),
        "fr" -> Seq("le", "recherche", "fenêtre", "toujours", "connaissance",
          "température", "être", "déjà"),
        "de" -> Seq("die", "forschung", "fenster", "immer", "wissenschaft",
          "straße", "über", "zeitgeist"))
      def textOf(l: String): org.apache.spark.sql.Column =
        concat_ws(" ", (0 until 8).map(j =>
          element_at(lit(vocab(l).toArray),
            (pmod(col("doc_id") * (2 * j + 1), lit(vocab(l).size)) + 1).cast("int"))): _*)
      val langCol = element_at(lit(langs.toArray), (col("doc_id") % 3).cast("int") + 1)
      val labeled = T(s, dir, "documents").select(col("doc_id"),
        langCol.as("lang"),
        when(langCol === "en", textOf("en"))
          .when(langCol === "fr", textOf("fr"))
          .otherwise(textOf("de")).as("text"))
      val model = TextClassifier.trainLangId(labeled, "text", "lang", langs,
        dim = 1024, n = 3, iters = 30, lr = 2.0)
      val agg = TextClassifier.langIdScore(labeled, "text", "doc_id", model)
        .join(labeled.select(col("doc_id").as("id"), col("lang").as("want")), Seq("id"))
        .agg(sum(when(col("lang") === col("want"), 1L).otherwise(0L)).as("ok"),
          count(lit(1)).as("n"),
          countDistinct(col("want")).as("nclasses")).head()
      val acc = agg.getLong(0).toDouble / math.max(1L, agg.getLong(1))
      import s.implicits._
      Seq(
        ("classes_present", agg.getLong(2) == 3L),
        ("model_shape", model.weightNums.size == 3 &&
          model.weightNums.forall(_.length == 1024)),
        ("quantized_accuracy", acc >= 0.95),
      ).toDF("invariant", "ok").orderBy("invariant")
    }),

    "pipeline_bpe_tokenize" -> ((s, dir) => {
      // real learned subword tokenization (Sennrich 2016 BPE): train 200
      // merges on the corpus' own word-frequency dict (the one distributed
      // shuffle), then tokenize every doc in one scan via the native
      // BpeEncode expression. Property-oracle pattern (SURVEY §9): BPE is
      // not SQL-expressible, so the oracle pins five invariants as
      // constant-TRUE rows and the query computes them IN-PLAN from the
      // actual encodings — losslessness is checked by decoding every doc
      // back and comparing TEXT, so a broken merge table cannot pass.
      import graft.operators.BpeTokenizer
      val docs = T(s, dir, "documents")
      val model = BpeTokenizer.learnVocab(docs, "text", nMerges = 200)
      val enc = BpeTokenizer.encode(docs, "text", "doc_id", model)
      val base = docs.select(col("doc_id").as("id"),
        coalesce(Dedup.tokens(col("text")), array().cast("array<string>")).as("__t"))
        .select(col("id"), array_join(col("__t"), " ").as("__norm"),
          size(col("__t")).cast(LongType).as("__nw"),
          length(array_join(col("__t"), "")).cast(LongType).as("__nc"))
      val joined = enc.join(base, Seq("id"))
        .select(col("id"), col("n_tokens"), col("__norm"), col("__nw"), col("__nc"),
          BpeTokenizer.decode(col("token_ids"), model).as("__rt"),
          when(size(col("token_ids")) > 0, array_min(col("token_ids"))).as("__minid"))
      val st = joined.agg(
        sum(when(col("__rt") =!= col("__norm"), 1L).otherwise(0L)).as("rt_bad"),
        sum(when(col("n_tokens") < col("__nw") ||
          col("n_tokens") > col("__nc") + col("__nw"), 1L).otherwise(0L)).as("bound_bad"),
        sum(col("n_tokens")).as("tot_tokens"),
        sum(col("__nc") + col("__nw")).as("tot_syms"),
        min(col("__minid")).as("min_id")).head()
      import s.implicits._
      Seq(
        ("compression_gain", st.getLong(2) < st.getLong(3)),
        ("merges_learned", model.merges.nonEmpty && model.merges.size <= 200),
        ("no_unk", st.isNullAt(4) || st.getInt(4) >= 1),
        ("roundtrip_lossless", st.getLong(0) == 0L),
        ("token_bounds", st.getLong(1) == 0L),
      ).toDF("invariant", "ok").orderBy("invariant")
    }),

    "text_lm_levels" -> ((s, dir) => {
      // stupid-backoff n-gram LM (Brants 2007 — the CCNet perplexity
      // filter's model family). Caps are chosen to BIND on this corpus
      // (31 unigrams / ~900 bigrams / 16k+ trigrams), so the
      // deterministic (count desc, gram asc) capped pulls — the contract
      // that bounds model size at 100 TB — are exactly what the oracle
      // mirrors with ORDER BY + LIMIT. Output is the integer
      // backoff-level census per doc: exact facts about the capped count
      // tables, hash-comparable cross-engine (the transcendental logscore
      // is gated by properties in text_lm_perplexity instead).
      import graft.operators.NgramLm
      val docs = T(s, dir, "documents")
      val model = NgramLm.train(docs, "text",
        maxUnigrams = 25, maxBigrams = 500, maxTrigrams = 5000)
      NgramLm.score(docs, "text", "doc_id", model)
        .select(col("id").as("doc_id"), col("n_pos"), col("tri_hits"),
          col("bi_hits"), col("uni_hits"), col("unk"))
        .orderBy("doc_id")
    }),

    "text_lm_perplexity" -> ((s, dir) => {
      // property-oracle twin (SURVEY §9): perplexity is transcendental,
      // so the invariants are computed IN-PLAN from the actual scores.
      // With unbound caps, self-training makes every level a hit (no
      // unk), logscore ≤ 0 ⟺ every backoff score ≤ 1, perplexity ≥ 1,
      // and a document of never-seen words must score strictly worse
      // than every real document (its per-token mass α^s/(N+1) is the
      // model's floor).
      import graft.operators.NgramLm
      val docs = T(s, dir, "documents")
      val model = NgramLm.train(docs, "text")
      val st = NgramLm.score(docs, "text", "doc_id", model).agg(
        sum(when(col("tri_hits") + col("bi_hits") + col("uni_hits") + col("unk")
          =!= col("n_pos"), 1L).otherwise(0L)).as("part_bad"),
        sum(when(col("logscore") > 0.0, 1L).otherwise(0L)).as("pos_bad"),
        sum(col("unk")).as("unk_tot"),
        sum(when(col("n_pos") > 0L && col("perplexity") < 1.0, 1L).otherwise(0L)).as("floor_bad"),
        max(col("perplexity")).as("max_perp")).head()
      val garbage = {
        import s.implicits._
        Seq((1L, (1 to 20).map(i => s"zzunseen$i").mkString(" "))).toDF("doc_id", "text")
      }
      val gp = NgramLm.score(garbage, "text", "doc_id", model)
        .head().getAs[Double]("perplexity")
      import s.implicits._
      Seq(
        ("garbage_scores_worse", gp > st.getAs[Double]("max_perp")),
        ("levels_partition", st.getLong(0) == 0L),
        ("logscore_nonpositive", st.getLong(1) == 0L),
        ("perplexity_floor", st.getLong(3) == 0L),
        ("self_train_no_unk", st.getLong(2) == 0L),
      ).toDF("invariant", "ok").orderBy("invariant")
    }),

    "pipeline_quality_filter" -> ((s, dir) => {
      // the COMPOSED pretraining quality gate: a document survives iff
      // the fastText-style classifier keeps it AND the Gopher structural
      // rules pass AND the LM backoff census clears integer floors
      // (≥ 30% trigram coverage, ≤ 5% unknown words — the perplexity
      // filter's hash-exact shadow). Every plane is individually gated
      // above; this row pins the COMPOSITION, and pins it in the shape
      // that matters at 100 TB: all three planes are struct-valued scan
      // expressions evaluated in ONE pass over the corpus — no joins, no
      // re-scans, no shuffle (PlanAuditSpec asserts it). Label, census
      // and verdict are integers/booleans, so the oracle is bit-exact.
      import graft.operators.{NgramLm, TextClassifier}
      // the synthetic corpus has no English function words, so
      // r_stop_words (and with it the whole conjunction) would be
      // degenerate-false; plant a deterministic stopword tail (the
      // pii_scrub construction pattern) — the oracle applies the same
      // construction, and every plane recomputes from the same text
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(graft.harness.QualityFixture.StopwordTail)).as("text"))
      val w = graft.harness.QualityFixture.syntheticWeights()
      val model = NgramLm.train(docs, "text",
        maxUnigrams = 25, maxBigrams = 500, maxTrigrams = 5000)
      val bModel = s.sparkContext.broadcast(model)
      docs.select(col("doc_id"),
          TextClassifier.scoreStruct(col("text"), w).as("__c"),
          NgramLm.scoreStruct(col("text"), bModel).as("__l"),
          TextAnalysis.gopherStruct(col("text")).as("__g"))
        .select(col("doc_id"),
          col("__c.label").as("cls_keep"),
          col("__g.gopher_keep").as("gopher_keep"),
          (col("__l.n_pos") > 0L &&
            col("__l.tri_hits") * 10L >= col("__l.n_pos") * 3L &&
            col("__l.unk") * 20L <= col("__l.n_pos")).as("lm_keep"),
          col("__l.n_pos").as("n_pos"), col("__l.tri_hits").as("tri_hits"),
          col("__l.unk").as("unk"))
        .withColumn("keep", col("cls_keep") && col("gopher_keep") && col("lm_keep"))
        .orderBy("doc_id")
    }),

    "text_pii_scrub" -> ((s, dir) => {
      // The corpus is synthetic and clean, so the query plants one of each
      // PII shape per doc and scrubs it — the oracle runs the SAME
      // RE2-compatible regexes, verifying the patterns end-to-end
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.piiScrub(concat(col("text"),
            lit(" contact u"), col("doc_id"), lit("@example.com ip 10.0.0."),
            col("doc_id") % 256, lit(" tel 555-123-4567"))).as("scrubbed"))
        .orderBy("doc_id")
    }),

    "text_html_extract" -> ((s, dir) => {
      // r13: HTML → text extraction (step 0 of a web-corpus pipeline) —
      // the corpus is plain text, so the query builds a real HTML page
      // around each document (escaped body, a script with embedded '<'
      // and quotes, a style block, a comment, doc_id%4 anchor links) and
      // the codegen'd HtmlExtract kernel must recover EXACTLY the
      // closed-form the oracle computes: title line + the whitespace-
      // collapsed body + the concatenated anchor texts, with codepoint-
      // exact text/link counts and the link-density quality signal.
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val k = pmod(col("doc_id"), lit(4)).cast(IntegerType)
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">if (x<1) { alert(\"&amp;\"); }</script>" +
          "<style>.c{color:red}</style></head><body><h1>T"),
        col("doc_id"), lit("</h1><p>"), esc, lit("</p>"),
        repeat(lit("<a href=\"u\">ln</a>"), k),
        lit("<!-- hidden --></body></html>"))
      TextAnalysis.htmlExtract(
          T(s, dir, "documents").select(col("doc_id"), html.as("html")),
          "html", "doc_id")
        .orderBy("doc_id")
    }),

    "text_compression_ratio" -> ((s, dir) => {
      // r14: the classic "gzip filter" quality signal — zlib-DEFLATE
      // ratio per document (boilerplate collapses, junk stays ~1). The
      // compressed size is runtime-deterministic but NOT a cross-engine
      // contract (zlib versions may encode differently), so the gate is
      // property-style (the ann_recall_check convention): raw_bytes_total
      // cross-checks UTF-8 byte counting against SQL octet_length
      // exactly; bounds_ok pins every compressed size inside zlib's
      // envelope (≥ the 8-byte empty-stream floor, ≤ raw + stored-block
      // overhead) with a positive ratio; repetition_discriminates pins
      // the signal's reason to exist — doubling a document must strictly
      // LOWER its ratio (the second copy is one back-reference).
      val docs = T(s, dir, "documents")
      val sig = graft.operators.TextAnalysis
        .compressionSignals(docs, "text", "doc_id")
        .localCheckpoint(true) // two actions below — never re-deflate the corpus
      val doubled = graft.operators.TextAnalysis.compressionSignals(
        docs.select(col("doc_id"),
          concat(col("text"), col("text")).as("text")), "text", "doc_id")
      // zlib's true worst case: 6 wrapper bytes + 5 per 65535-byte stored
      // block (a flat slack would flip bounds_ok on a large-enough
      // incompressible doc that the kernel handled CORRECTLY), floored at
      // the 8-byte empty stream (raw_bytes = 0 gives a 6-byte formula
      // value BELOW what an empty input legitimately produces)
      val envelope = greatest(lit(8L), col("raw_bytes") + lit(6) +
        lit(5) * floor((col("raw_bytes") + lit(65534)) / lit(65535)).cast(LongType))
      val badPred = col("deflate_bytes") < 8 ||
        col("deflate_bytes") > envelope ||
        (col("raw_bytes") > 0 && col("compression_ratio") <= 0)
      // count, byte total, and the bounds sweep fused into ONE job
      val st = sig.agg(count(lit(1)),
        coalesce(sum(col("raw_bytes")), lit(0L)),
        coalesce(sum(when(badPred, 1L).otherwise(0L)), lit(0L))).collect()(0)
      // discrimination only holds while the doubled copy's match sits
      // inside DEFLATE's 32 KB window — beyond it the second copy cannot
      // back-reference the first, so the law is pinned on [64, 32768]
      val badDiscr = sig
        .join(doubled.select(col("doc_id"),
          col("compression_ratio").as("__r2")), "doc_id")
        .filter(col("raw_bytes") >= 64 && col("raw_bytes") <= 32768 &&
          !(col("__r2") < col("compression_ratio"))).count()
      s.range(1).select(
        lit(st.getLong(0)).as("n_docs"),
        lit(st.getLong(1)).as("raw_bytes_total"),
        lit(st.getLong(2) == 0L).as("bounds_ok"),
        lit(badDiscr == 0L).as("repetition_discriminates"))
    }),

    "text_pii_redact" -> ((s, dir) => {
      // r14: PII scrub (the Dolma/BigScience release stage) — the corpus
      // is clean synthetic text, so the query plants a deterministic
      // contact block per document: a valid email, an IPv4 whose second
      // octet is doc_id % 300 (so ~15% of planted IPs are OCTET-INVALID —
      // 256..299 — and the scrubber must refuse them, not round them),
      // and a NANP phone. The codegen'd PiiScan kernel's redacted bytes
      // and per-class counts must equal the oracle's chained RE2 passes
      // over the SAME pattern strings (PiiScan.EmailPattern/Ipv4Pattern/
      // PhonePattern are interpolated into the SQL — one copy, no drift).
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail.example.com from 10."),
        (col("doc_id") % 300).cast(StringType),
        lit(".0.1 or (555) 867-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"),
        lit(" today"))
      TextAnalysis.piiScan(
          T(s, dir, "documents").select(col("doc_id"), planted.as("text")),
          "text", "doc_id")
        .orderBy("doc_id")
    }),

    "pipeline_train_val_split" -> ((s, dir) => {
      // deterministic engine-portable md5 split; report per-(lang, split)
      // counts — assignment is a pure function of (lang, doc_id, seed), so
      // it is stable across reruns, layouts, and engines (DuckDB-checkable)
      graft.operators.DatasetSplit
        .portableStratifiedSplits(T(s, dir, "documents"), "doc_id", "lang")
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    "pipeline_decontaminate" -> ((s, dir) => {
      // test-set-leakage guard: docs whose text shares >= 2 distinct word
      // 3-grams with the "benchmark" slice (doc_id % 97 == 0) are flagged.
      // Eval n-grams broadcast (benchmark-sized); the train side streams
      // map-side — no shuffle until the per-doc hit count.
      val docs  = T(s, dir, "documents")
      val eval  = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.operators.Decontaminate
        .contaminationReport(train, eval, "text", "doc_id", n = 3, minHits = 2)
        .select(col("id").as("doc_id"), col("hits"))
        .orderBy("doc_id")
    }),

    "pipeline_shuffle_shards" -> ((s, dir) => {
      // deterministic shuffle-and-shard: shard and in-shard position are
      // pure functions of (doc_id, seed), so the training order reproduces
      // across reruns, layouts, and engines — unlike rand() shuffles. The
      // only exchange is the per-shard hash partition a sharded writer
      // needs anyway (no global sort at any scale).
      graft.operators.DatasetSplit
        .shuffleShards(T(s, dir, "documents").select("doc_id"), "doc_id", shards = 8)
        .orderBy("shard", "pos")
    }),

    "pipeline_dsir_weights" -> ((s, dir) => {
      // DSIR training plane (arXiv:2302.03169): hashed unigram+bigram
      // bucket histograms of the target slice (doc_id%10=0) vs the raw
      // rest — exact integers, ONE corpus scan (the explode partial-
      // aggregates map-side to <=4096 rows per partition before the only
      // shuffle). The oracle re-derives every count from md5 arithmetic.
      val docs = T(s, dir, "documents")
      docs.select((col("doc_id") % 10 === 0).as("is_t"),
          explode(graft.operators.Dsir.gramBuckets(col("text"))).as("bucket"))
        .groupBy("bucket")
        .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("target_cnt"),
          sum(when(!col("is_t"), 1L).otherwise(0L)).as("raw_cnt"))
        .orderBy("bucket")
    }),

    "pipeline_dsir_select" -> ((s, dir) => {
      // DSIR data selection: top-100 raw docs by add-1-smoothed log
      // importance weight toward the target slice. Ranks + integer gram
      // counts are the gate row (the bm25 convention — the float score
      // stays out of the hash; the oracle still reproduces the COMPLETE
      // ranking, so a single bit of float divergence would reorder and
      // fail). Scoring is one codegen'd scan; selection the shared
      // two-stage top-k.
      val docs   = T(s, dir, "documents")
      val target = docs.filter(col("doc_id") % 10 === 0)
      val raw    = docs.filter(col("doc_id") % 10 =!= 0)
      graft.operators.Dsir.selectTopK(raw, target, "text", "doc_id", k = 100)
        .select(col("rank"), col("id").as("doc_id"), col("n_grams"))
        .orderBy("rank")
    }),

    "pipeline_dsir_sample" -> ((s, dir) => {
      // the paper's Gumbel-top-k sampler: rank on score + seeded-md5
      // Gumbel noise — reproducible across engines (a pure function of
      // (seed, doc_id)), so the oracle re-derives the full noisy ranking
      val docs   = T(s, dir, "documents")
      val target = docs.filter(col("doc_id") % 10 === 0)
      val raw    = docs.filter(col("doc_id") % 10 =!= 0)
      graft.operators.Dsir.selectGumbelTopK(raw, target, "text", "doc_id",
          k = 100, seed = 42)
        .select(col("rank"), col("id").as("doc_id"), col("n_grams"))
        .orderBy("rank")
    }),

    "pipeline_mixture_sample" -> ((s, dir) => {
      // domain-mixture resampling: downsample per-language so the kept
      // corpus matches target weights at the largest feasible size. One
      // tiny count agg + broadcast thresholds + per-row md5 filter — no
      // per-domain window over data rows (that would serialize each
      // domain into one task at scale).
      graft.operators.Mixture
        .sampleToMixture(T(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    "pipeline_chunk_docs" -> ((s, dir) => {
      // context-length chunking: overlapping 64-token windows, stride 48 —
      // pure per-row expressions, no shuffle (runs inside the scan)
      graft.operators.Chunking
        .chunkDocuments(T(s, dir, "documents"), "doc_id", "text", chunkTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("chunk_text"), col("chunk_tokens").cast(LongType).as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "pipeline_pack_sequences" -> ((s, dir) => {
      // sequence packing into 512-token bins, per language stratum (packing
      // is sequential; stratum windows keep it shuffle-local, no global sort)
      graft.operators.Chunking
        .packSequences(T(s, dir, "documents"), "doc_id", "text", "lang", budget = 512)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
        .orderBy("lang", "bin")
    }),

    "pipeline_pack_sequences_bpe" -> ((s, dir) => {
      // r11: sequence packing in the unit an LLM actually trains on — BPE
      // token ids from the learned 200-merge model (same model scale as
      // pipeline_bpe_tokenize), packed per language stratum. Property
      // oracle (BPE ids aren't SQL-expressible); four in-plan invariants:
      //  - every document lands in exactly one bin;
      //  - within any bin, the docs before the last sum to < budget (each
      //    non-final doc ENDS inside the bin's budget window — the exact
      //    budget-bound guarantee of cumulative-start packing);
      //  - decoding each bin's concatenated token ids (stratum id order)
      //    reproduces the space-joined normalized texts — losslessness
      //    survives PACKING end to end, not just per document;
      //  - multi-doc bins exist (the packer actually packs at this scale).
      // The count column is PROJECTED before the packing window so the
      // token-id arrays never ride a Window partition (the r9 semdedup
      // lesson); ids join back by the unique doc id for the decode check.
      import graft.operators.{BpeTokenizer, Chunking}
      val docs = T(s, dir, "documents")
      val model = BpeTokenizer.learnVocab(docs, "text", nMerges = 200)
      val enc = BpeTokenizer.encode(docs, "text", "doc_id", model)
        .localCheckpoint(true) // two consumers: the packing counts + the id rejoin
      val counted = enc.select(col("id"), col("n_tokens"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      val budget = 512
      val packed = Chunking.packByTokenCount(counted, "id", "n_tokens", "lang", budget)
        .localCheckpoint(true) // four consumers below
      val nDocs = docs.count()
      val onceOk = packed.count() == nDocs &&
        packed.select("id").distinct().count() == nDocs
      val wBin = org.apache.spark.sql.expressions.Window.partitionBy("lang", "bin")
      val nonlastBad = packed
        .withColumn("__last", max(col("id")).over(wBin))
        .filter(col("id") =!= col("__last"))
        .groupBy("lang", "bin").agg(sum("n_tokens").as("__nl"))
        .filter(col("__nl") >= budget).count()
      val multiDoc = packed.groupBy("lang", "bin").count()
        .filter(col("count") > 1L).count()
      val binsBad = packed.select(col("lang"), col("bin"), col("id"))
        .join(enc.select(col("id"), col("token_ids")), Seq("id"))
        .join(docs.select(col("doc_id").as("id"),
          array_join(coalesce(Dedup.tokens(col("text")), array().cast("array<string>")), " ")
            .as("__norm")), Seq("id"))
        .groupBy("lang", "bin")
        .agg(array_sort(collect_list(struct(col("id"), col("token_ids"), col("__norm"))))
          .as("__e"))
        .select(
          flatten(transform(col("__e"), e => e.getField("token_ids"))).as("__ids"),
          array_join(filter(transform(col("__e"), e => e.getField("__norm")),
            n => length(n) > 0), " ").as("__want"))
        .filter(BpeTokenizer.decode(col("__ids"), model) =!= col("__want"))
        .count()
      import s.implicits._
      Seq((nDocs, onceOk, nonlastBad == 0L, binsBad == 0L, multiDoc > 0L))
        .toDF("n_docs", "docs_once_ok", "nonlast_bound_ok", "bins_lossless_ok",
          "any_multi_doc_bin")
    }),

    "pipeline_clean_corpus" -> ((s, dir) => {
      import s.implicits._
      val r = graft.operators.CorpusPipeline.clean(
        T(s, dir, "documents"), minTokens = 10, minAlphaRatio = 0.5,
        allowedLangs = Nil, nearDupThreshold = 0.8)
      r.stats.toDF("stage", "n_rows").orderBy("stage")
    }),

    // ===== extensions: similarity search =====

    "embed_cosine_topk" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rank")
    }),

    "search_bm25_topk" -> ((s, dir) => {
      // r11: lexical retrieval — Okapi BM25 top-10 per query over the
      // corpus (KeywordSearch: one corpus scan for all queries, codegen'd
      // tf kernel, literal idf table, two-stage top-k). The oracle
      // re-derives the FULL ranking in SQL (same formula, same
      // term-order float sums, same doc-id tie rule); the float score
      // itself stays out of the gate row — ranks, lengths and tf sums
      // are the integer-exact surface.
      graft.operators.KeywordSearch.bm25TopK(
          T(s, dir, "documents"), "text", "doc_id",
          Seq(("q_join", "spark hash join"),
              ("q_scan", "fast table scan"),
              ("q_stream", "stream window agg")), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_batch" -> ((s, dir) => {
      // r12: the INVERTED-INDEX BM25 form — the battery is a DataFrame
      // (data, not plan), so a 10⁴-10⁶-probe decontamination battery
      // plans ONE fixed shape instead of a union branch per query. Scores
      // fold in query term order (bit-identical to bm25TopK), so this
      // gate reuses search_bm25_topk's ORACLE verbatim on the same
      // battery: hash-identical ranking across the two execution forms.
      import s.implicits._
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_batch_wide" -> ((s, dir) => {
      // r13: forces bm25Batch's ORDERED-FOLD branch — one ≥32-token probe
      // (the standard 3-term battery's q_join repeated 11× = 33 tokens,
      // ord 0..32) pushes the global maxOrd past the pivoted-aggregate
      // cap, so every query scores through the native OrderedContribSum
      // fold instead of the sum(when(ord=i)) pivot. The oracle re-derives
      // the wide probe's 33-term left-to-right float sum explicitly
      // (generated, same repeating idf/tf columns), so ranks stay
      // hash-exact; the 3 short probes must land exactly on
      // search_bm25_topk's rows — any fold/pivot divergence breaks them.
      import s.implicits._
      val battery = Seq(
        ("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg"),
        ("q_wide", Seq.fill(11)("spark hash join").mkString(" "))).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_batch_bigvocab" -> ((s, dir) => {
      // r13 (branch re-pointed r15): a >1,024-term battery — 1,022
      // single-term pad probes on top of the standard 3. Through r14
      // this size forced the explode+semi-join posting build; since r15
      // it exercises the sparse TermPostings kernel at a vocabulary the
      // dense kernel could never carry (the organic explode switch now
      // sits at 65,536 — see search_bm25_batch_explode for that branch's
      // gate). Pad terms match nothing (and even a freak match would
      // only rank rows under a pad query_id — per-query scoring is
      // independent, and idf is a corpus-only fact), so the real 3-probe
      // slice must be hash-identical to the literal form: the gate
      // reuses search_bm25_topk's oracle verbatim.
      import s.implicits._
      val pads = (0 until 1022).map(i => (f"pad_$i%04d", f"qzxpadterm$i%04d"))
      val battery = (Seq(
        ("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")) ++ pads).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext", k = 10)
        .filter(col("query_id").isin("q_join", "q_scan", "q_stream"))
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_batch_explode" -> ((s, dir) => {
      // r15: the EXPLODE+SEMI-JOIN posting build, branch-forced via
      // kernelVocabCap = 0 (organically it now takes a >65,536-term
      // vocabulary — too large to stage as a gate battery; the
      // PlanAuditSpec xor pin covers the organic switch). Same battery
      // and oracle as search_bm25_topk: the third posting-build shape
      // over one DuckDB truth.
      import s.implicits._
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
          T(s, dir, "documents"), "text", "doc_id", battery, "qid", "qtext",
          k = 10, kernelVocabCap = 0)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_indexed" -> ((s, dir) => {
      // r14: the PERSISTED posting-index form — build the index over the
      // even half of the corpus, APPEND the odd half (only the delta is
      // scanned; batch 0's files never rewrite; meta.json writes last),
      // then search with zero corpus scans. Scores fold through the same
      // retrieval tail as the batch form, so this gate reuses
      // search_bm25_topk's oracle verbatim: one DuckDB truth, now THREE
      // hash-identical execution forms (literal plan / in-flight
      // inverted index / persisted store with append).
      import s.implicits._
      val root = s"/tmp/graft_bm25_idx_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", root,
        overwrite = true)
      graft.operators.KeywordSearch.bm25IndexAppend(s, root,
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, root, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_compacted" -> ((s, dir) => {
      // r14: COMPACTION — build on the even half, append the odd half
      // (two batch dirs), then compact to a fresh single-batch store
      // whose postings are GLOBALLY term-sorted. No re-tokenization, no
      // posting changes: the search must stay hash-identical to the
      // literal form — the FOURTH execution shape over one DuckDB truth.
      import s.implicits._
      val src = s"/tmp/graft_bm25_csrc_${tmpToken(dir)}"
      val dst = s"/tmp/graft_bm25_cdst_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", src,
        overwrite = true)
      graft.operators.KeywordSearch.bm25IndexAppend(s, src,
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      graft.operators.KeywordSearch.bm25IndexCompact(s, src, dst, overwrite = true)
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, dst, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_deleted" -> ((s, dir) => {
      // r15: the DELETE plane — build over the corpus PLUS five poison
      // docs stuffed with every battery term (they would rank top if the
      // tombstone anti-join leaked anywhere: scoring, df, or the meta's
      // n/avgdl, all of which the delete adjusts), then DELETE them. The
      // search must be hash-identical to the literal form over the
      // ORIGINAL corpus — the search_bm25_topk oracle reused verbatim, a
      // FIFTH execution shape (store with tombstones) over one truth.
      import s.implicits._
      val root = s"/tmp/graft_bm25_del_${tmpToken(dir)}"
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val extra = s.range(5).select((col("id") + 10000000L).as("doc_id"),
        lit("spark hash join fast table scan stream window agg").as("text"))
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs.unionByName(extra), "text", "doc_id", root, overwrite = true)
      graft.operators.KeywordSearch.bm25IndexDelete(
        s, root, extra.select("doc_id"), "doc_id")
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25SearchIndexed(
          s, root, battery, "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_stats" -> ((s, dir) => {
      // r17: the posting store's INSPECTION op — one-row operational
      // snapshot. The oracle is the strongest kind available to a stats
      // surface: DuckDB re-derives docs / sumdl / distinct terms /
      // posting rows from the RAW corpus through the mirrored tokenizer,
      // so the gate cross-checks the meta's delete-adjusted ledger AND
      // the postings plane against ground truth (a build that dropped or
      // double-counted a single (term, doc) pair breaks the hash). The
      // maintenance gauges (batches / tombstones / flags) are pinned by
      // the lifecycle spec instead — they are store-internal, not
      // corpus-derivable.
      val root = s"/tmp/graft_bm25_stats_${tmpToken(dir)}"
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true)
      graft.operators.KeywordSearch.bm25IndexStats(s, root)
        .select(col("docs"), col("sumdl"), col("terms"), col("postings"))
    }),

    "ann_index_stats" -> ((s, dir) => {
      // r17: the vector store's INSPECTION op — bm25IndexStats's twin.
      // vectors re-derives from the raw embeddings table; dim from the
      // stored model's round trip (the oracle reads len(embedding) from
      // the corpus — a model that persisted the wrong geometry breaks
      // the hash); subspaces/cells pin the build parameters as read BACK
      // from model.json, not as passed in.
      val root = s"/tmp/graft_ann_stats_${tmpToken(dir)}"
      val emb = T(s, dir, "embeddings")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexStats(s, root)
        .select(col("vectors"), col("dim"), col("subspaces"), col("cells"))
    }),

    "ann_index_drift" -> ((s, dir) => {
      // r18: the frozen-model DRIFT gauge — appends encode under the
      // build-time model forever (drift degrades recall, never score
      // correctness), and through r17 nothing told a deployment WHEN the
      // model had aged out. annIndexDrift reports per-batch mean/p95
      // cosine distance to the ASSIGNED coarse centroid. The fixture
      // appends a batch of vectors EXACTLY orthogonal to every centroid
      // (Gram-Schmidt against the model read BACK from model.json) — the
      // worst possible drift, pinning that batch's mean at ~1.0 at any
      // data scale, while batch 0 (the data the model was fitted on)
      // sits well below. matches_recompute re-derives batch 0's mean
      // INDEPENDENTLY from the raw embeddings table + the round-tripped
      // model (assignment via the same NearestCells kernel, distance via
      // 1 − vec_cosine) — per-row distances are bit-identical, so the
      // two averages may differ only by aggregation order (~1e-13).
      import graft.functions.VectorFunctions.{nearest_cells, vec_cosine}
      val root = s"/tmp/graft_ann_drift_${tmpToken(dir)}"
      val emb = T(s, dir, "embeddings")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val rootP = graft.sources.FsPaths.hadoopPath(root)
      val fs = graft.sources.FsPaths.fileSystemFor(
        rootP, s.sparkContext.hadoopConfiguration)
      val (cents, _) = graft.operators.AnnIndex.readModel(fs, rootP, root)
      val orth = graft.harness.DriftFixture.modelOrthogonal(cents, 20)
      import s.implicits._
      val delta = orth.toSeq.zipWithIndex
        .map { case (v, j) => (10000000L + j, v) }.toDF("vec_id", "embedding")
      graft.operators.AnnIndex.annIndexAppend(s, root, delta, "vec_id", "embedding")
      val drift = graft.operators.AnnIndex.annIndexDrift(s, root)
        .orderBy("batch").collect()
      val (mean0, p950) = (drift(0).getDouble(2), drift(0).getDouble(3))
      val (mean1, p951) = (drift(1).getDouble(2), drift(1).getDouble(3))
      val centSchema = StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("__cent", ArrayType(FloatType, containsNull = false),
          nullable = false)))
      val centDf = s.createDataFrame(
        java.util.Arrays.asList(cents.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.Row(i, c.toSeq) }: _*), centSchema)
      val re = emb.filter(col("embedding").isNotNull)
        .select(element_at(nearest_cells(col("embedding"), cents, 1), 1)
          .as("cell"), col("embedding"))
        .join(broadcast(centDf), "cell")
        .agg(avg(lit(1.0) - vec_cosine(col("embedding"), col("__cent"))))
        .head().getDouble(0)
      s.range(1).select(
        lit("ann_drift").as("method"),
        lit(drift(0).getLong(1)).as("vectors_b0"),
        lit(drift(1).getLong(1)).as("vectors_b1"),
        lit(mean0 < 0.9).as("baseline_fits_model"),
        lit(mean1 > mean0 + 0.15).as("drift_detected"),
        lit(math.abs(mean1 - 1.0) < 0.001 && math.abs(p951 - 1.0) < 0.001)
          .as("orthogonal_batch_at_ceiling"),
        lit(p951 > p950 + 0.1).as("p95_drifts_too"),
        lit(math.abs(mean0 - re) < 1e-9).as("matches_recompute"))
    }),

    "search_bm25_phrase" -> ((s, dir) => {
      // r15: QUOTED-PHRASE retrieval over the POSITIONAL posting store —
      // adjacency verified from stored positions (zero corpus scans),
      // the phrase scored as one Okapi pseudo-term. The battery includes
      // a trigram with a REPEATED term ("the batch batch"), which only
      // matches where both 'batch' ordinals vote at the same start. The
      // oracle re-derives every phrase tf by direct string adjacency
      // over the raw corpus text in DuckDB — a positions-plane bug
      // (wrong ordinal, off-by-one, unsorted list) cannot satisfy both.
      import s.implicits._
      val root = s"/tmp/graft_bm25_pos_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseTopK(s, root,
          Seq(("p_hash_join", "hash join"),
              ("p_table_scan", "table scan"),
              ("p_batch2", "the batch batch")), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_phrase_scored" -> ((s, dir) => {
      // r15: the STREAM-shaped phrase plane — score the corpus against a
      // frozen PhraseModel (per-phrase df + N/avgdl derived from the
      // positional store with zero corpus scans; tf row-local via the
      // codegen'd PhraseCountBatch adjacency kernel). The rows are the
      // indexed search's scored surface minus ranking (bit-identity
      // spec-pinned); the oracle re-derives every tf by direct string
      // adjacency — the search_bm25_phrase truth without the top-k.
      import s.implicits._
      val root = s"/tmp/graft_bm25_psc_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("p_hash_join", "hash join"),
            ("p_table_scan", "table scan"),
            ("p_batch2", "the batch batch")))
      graft.operators.KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    }),

    "search_bm25_near_scored" -> ((s, dir) => {
      // r16: the STREAM-shaped NEAR plane — score the corpus against a
      // frozen PhraseModel derived at slop = 1 (per-phrase df from the
      // positional store's banded vote, zero corpus scans; tf row-local
      // via the slop-aware PhraseCountBatch kernel). The search_bm25_near
      // battery and truth minus the top-k: every (doc, dl, tf) row
      // re-derived by direct windowed string indexing in DuckDB — the
      // search_bm25_phrase_scored pattern on the proximity plane.
      import s.implicits._
      val root = s"/tmp/graft_bm25_nsc_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("n_hash_join", "hash join"),
            ("n_table_scan", "table scan"),
            ("n_batch2", "the batch batch")), slop = 1)
      graft.operators.KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    }),

    "search_bm25_phrase_scored_batch" -> ((s, dir) => {
      // r17: BATTERY-AS-DATA scorer — the whole battery rides inside ONE
      // PhraseCountBatch expression (one corpus pass, constant plan shape
      // at any battery size — plan-pinned; the per-phrase scorer plans a
      // corpus-scan branch per phrase). Same battery, same frozen model,
      // same adjacency oracle as search_bm25_phrase_scored, so the gate
      // pins the two scorer forms hash-equal.
      import s.implicits._
      val root = s"/tmp/graft_bm25_psb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("p_hash_join", "hash join"),
            ("p_table_scan", "table scan"),
            ("p_batch2", "the batch batch")))
      graft.operators.KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    }),

    "search_bm25_near_scored_batch" -> ((s, dir) => {
      // r17: the NEAR twin of search_bm25_phrase_scored_batch — the
      // banded-proximity vote at slop = 1 with the battery as data; same
      // battery, model, and windowed-indexing oracle as
      // search_bm25_near_scored, pinning the forms hash-equal.
      import s.implicits._
      val root = s"/tmp/graft_bm25_nsb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(s, root,
        Seq(("n_hash_join", "hash join"),
            ("n_table_scan", "table scan"),
            ("n_batch2", "the batch batch")), slop = 1)
      graft.operators.KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model)
        .select(col("query_id"), col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "doc_id")
    }),

    "search_bm25_phrase_batch" -> ((s, dir) => {
      // r17: BATTERY-AS-DATA phrase retrieval — the decontamination
      // shape (thousands of eval-set phrase probes), where the battery
      // is a DataFrame and the plan is ONE positions scan regardless of
      // battery size (plan-pinned in PlanAuditSpec; the per-phrase form
      // plans a scan branch per phrase). Same battery and same
      // independent string-adjacency oracle as search_bm25_phrase, so
      // the gate pins the two forms hash-equal through the shared
      // scoring tail — score bits included.
      import s.implicits._
      val root = s"/tmp/graft_bm25_pb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseBatch(s, root,
          Seq(("p_hash_join", "hash join"),
              ("p_table_scan", "table scan"),
              ("p_batch2", "the batch batch")).toDF("qid", "qtext"),
          "qid", "qtext", k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_near_batch" -> ((s, dir) => {
      // r17: the NEAR-k twin of search_bm25_phrase_batch — the same
      // banded-proximity vote at slop = 1, battery as data, one fixed
      // plan; same battery and windowed-indexing oracle as
      // search_bm25_near, pinning the forms hash-equal.
      import s.implicits._
      val root = s"/tmp/graft_bm25_nb_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseBatch(s, root,
          Seq(("n_hash_join", "hash join"),
              ("n_table_scan", "table scan"),
              ("n_batch2", "the batch batch")).toDF("qid", "qtext"),
          "qid", "qtext", k = 10, slop = 1)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    }),

    "search_bm25_near" -> ((s, dir) => {
      // r16: PROXIMITY (NEAR-k) retrieval over the positional store —
      // the sloppy-phrase query, answered from the same positions plane
      // by widening each ordinal's vote to a slop-sized start band
      // (ordinal i matches anywhere in [start+i, start+i+slop]); tf
      // counts distinct matching starts and scores as one Okapi
      // pseudo-term. The battery exercises the semantics' edges: a
      // bigram that gains gapped matches vs its exact form, and a
      // REPEATED-term trigram pinning the documented band-overlap rule.
      // The oracle re-derives every tf by direct windowed string
      // indexing over the raw corpus text in DuckDB — zero shared code
      // with the positional vote.
      import s.implicits._
      val root = s"/tmp/graft_bm25_near_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", root, overwrite = true, positions = true)
      graft.operators.KeywordSearch.bm25PhraseTopK(s, root,
          Seq(("n_hash_join", "hash join"),
              ("n_table_scan", "table scan"),
              ("n_batch2", "the batch batch")), k = 10, slop = 1)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"),
          col("doc_id"), col("dl"), col("tf"))
        .orderBy("query_id", "rank")
    }),

    "search_hybrid_rrf" -> ((s, dir) => {
      // r12: HYBRID retrieval — the lexical BM25 ranking and the semantic
      // brute-force cosine ranking fused by reciprocal rank (Cormack
      // 2009, k_rrf = 60), the standard no-calibration merge modern
      // retrieval stacks run. Fusion joins only the top-k survivors
      // (never corpus volume); the fixed-order coalesced score terms
      // make even the float rrf_score hash-exact, and the per-source
      // ranks ride along for auditability.
      val bm25 = graft.operators.KeywordSearch.bm25TopK(
          T(s, dir, "documents"), "text", "doc_id",
          Seq(("q_join", "spark hash join"),
              ("q_scan", "fast table scan"),
              ("q_stream", "stream window agg")), k = 10)
        .select("query_id", "doc_id", "rank")
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      val cos = graft.operators.Similarity
        .bruteForceTopK(emb, "vec_id", "embedding", qv, "qid", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrfFuse(Seq(bm25, cos), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"), col("doc_id"),
          col("rrf_score"), col("rank_0").as("bm25_rank"), col("rank_1").as("cosine_rank"))
        .orderBy("query_id", "rank")
    }),

    "search_hybrid_indexed" -> ((s, dir) => {
      // r16: HYBRID retrieval over the PERSISTED stores — the shape a
      // production retrieval stack actually runs (query the posting store
      // and the vector store, fuse by RRF), where search_hybrid_rrf fused
      // the in-flight forms. One truth, reused verbatim: the bm25 side is
      // hash-identical to the literal form over the same corpus (the
      // indexed-gate family's pin), and the ANN side runs the store at
      // its EXACT calibration point — probing every cell with a refine
      // window spanning the corpus makes the exact-cosine re-rank see all
      // live vectors, so the store's ranking IS brute force bit-for-bit
      // (same vec_cosine, same (cosine desc, id asc) tie rule). The fused
      // output therefore shares search_hybrid_rrf's DuckDB re-derivation
      // unchanged — a SIXTH execution form over that truth. The
      // production-parameter (pruned-probe) fusion is gated separately
      // (search_hybrid_indexed_pruned) with plan pins.
      import s.implicits._
      val bmRoot = s"/tmp/graft_hyb_bm25_${tmpToken(dir)}"
      val annRoot = s"/tmp/graft_hyb_ann_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", bmRoot, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", annRoot,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val battery = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      val bm25 = graft.operators.KeywordSearch.bm25SearchIndexed(
          s, bmRoot, battery, "qid", "qtext", k = 10)
        .select("query_id", "doc_id", "rank")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      val nVecs = emb.count()
      val cos = graft.operators.AnnIndex.annSearchIndexed(s, annRoot,
          qv, "qid", "embedding", k = 10, nProbe = 16,
          refine = (nVecs / 10L + 1L).toInt)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Fusion.rrfFuse(Seq(bm25, cos), k = 10)
        .select(col("query_id"), col("rank").cast(LongType).as("rank"), col("doc_id"),
          col("rrf_score"), col("rank_0").as("bm25_rank"), col("rank_1").as("cosine_rank"))
        .orderBy("query_id", "rank")
    }),

    "search_hybrid_indexed_pruned" -> ((s, dir) => {
      // r16: the PRODUCTION-PARAMETER fused shape — bm25SearchIndexed +
      // annSearchIndexedBatch (battery-as-data, nProbe = 8 of 16 cells,
      // refine = 4) through rrfFuse. Approximate probes admit no SQL
      // truth, so the pin is in-plan equality against the fusion of the
      // independently-gated equivalent forms: the literal bm25TopK
      // (hash-identical to the store search by the indexed-gate family)
      // and the driver-form annSearchIndexed over the SAME store
      // (bit-identical to the batch form by ann_index_search_batch).
      // Equality here isolates exactly the new surface: the fusion
      // WIRING over the two stores. Store pruning under the fused plan
      // (cell PartitionFilters, pushed term IN) is pinned in
      // PlanAuditSpec.
      import s.implicits._
      val bmRoot = s"/tmp/graft_hybp_bm25_${tmpToken(dir)}"
      val annRoot = s"/tmp/graft_hybp_ann_${tmpToken(dir)}"
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      graft.operators.KeywordSearch.bm25IndexBuild(
        docs, "text", "doc_id", bmRoot, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", annRoot,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val probes = Seq(("q_join", "spark hash join"),
        ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg"))
      val battery = probes.toDF("qid", "qtext")
      val qv = emb.filter(col("vec_id") < 3)
        .select(when(col("vec_id") === 0, "q_join")
          .when(col("vec_id") === 1, "q_scan")
          .otherwise("q_stream").as("qid"), col("embedding"))
      def fused(bm: org.apache.spark.sql.DataFrame,
                ann: org.apache.spark.sql.DataFrame) =
        graft.operators.Fusion.rrfFuse(Seq(
          bm.select("query_id", "doc_id", "rank"),
          ann.select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))),
          k = 10)
      val overStores = fused(
        graft.operators.KeywordSearch.bm25SearchIndexed(
          s, bmRoot, battery, "qid", "qtext", k = 10),
        graft.operators.AnnIndex.annSearchIndexedBatch(s, annRoot,
          qv, "qid", "embedding", k = 10, nProbe = 8, refine = 4))
      val overForms = fused(
        graft.operators.KeywordSearch.bm25TopK(docs, "text", "doc_id",
          probes, k = 10),
        graft.operators.AnnIndex.annSearchIndexed(s, annRoot,
          qv, "qid", "embedding", k = 10, nProbe = 8, refine = 4))
      // topKMismatches compares (query_id, rank, neighbor_id, cosine) —
      // the fused surface maps onto it as (doc_id, rrf_score): a rank,
      // document, or float-bit divergence all trip the same counter
      def shaped(f: org.apache.spark.sql.DataFrame) = f.select(
        col("query_id"), col("rank"), col("doc_id").as("neighbor_id"),
        col("rrf_score").as("cosine"))
      val mism = topKMismatches(shaped(overStores), shaped(overForms))
      s.range(1).select(
        lit("hybrid_stores").as("method"), lit(probes.size.toLong).as("n_queries"),
        lit(mism == 0L).as("fused_equals_forms"))
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      // r11: property-verdict row (closes the last no_oracle pair). The
      // params match ann_recall_check's LSH arm (4 bits × 16 tables) —
      // the defaults' candidate pool at gate SFs is smaller than k, which
      // would make the "k rows per query" invariant vacuous. Recall floors
      // in ann_recall_check are unchanged.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = 4, tables = 16)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "lsh")
    }),

    "ann_recall_check" -> ((s, dir) => {
      // property-style oracle for the approximate paths: recall of LSH and
      // IVF top-10 vs the exact brute force, asserted above a floor the
      // oracle pins as TRUE (a recall regression flips the flag)
      import s.implicits._
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("neighbor_id"))
      val bf = pairs(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 10))
        .cache()
      val bfN = math.max(1L, bf.count())
      def recall(ann: org.apache.spark.sql.DataFrame): Column =
        (lit(ann.join(bf, Seq("query_id", "neighbor_id"), "left_semi").count())
          / lit(bfN)).cast(DoubleType)
      val lshR = Similarity.lshTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nBits = 4, tables = 16)
      val ivfR = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 8, kmeansIters = 2)
      Seq(("ivf", 0.4), ("lsh", 0.4)).toDF("method", "floor")
        .withColumn("recall_ok",
          when(col("method") === "lsh", recall(pairs(lshR)) >= col("floor"))
            .otherwise(recall(pairs(ivfR)) >= col("floor")))
        .select("method", "recall_ok")
        .orderBy("method")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // r11: property-verdict row (closes the last no_oracle pair). nProbe
      // raised 4 → 8 to match ann_recall_check's IVF arm: the floor check
      // needs probe coverage whose worst margin clears the pinned slack
      // with headroom (measured: -0.022 at nProbe=8 vs slack 0.1).
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.ivfTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nCells = 16, nProbe = 8, kmeansIters = 2)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "ivf")
    }),

    "ann_pq_topk" -> ((s, dir) => {
      // r11: IVF-PQ — the compressed ANN path (coarse cells bound which
      // vectors a query touches, 8×16 product-quantization codes bound
      // the bytes, exact re-rank restores true cosines). Same
      // property-verdict gate as the LSH/IVF rows; slack 0.15 covers the
      // measured worst margin (-0.043 at sf0.1, bit-identical at 8 and
      // 200 shuffle partitions) with 3.5× headroom.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val ann = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        ann, method = "pq", slack = 0.15)
    }),

    "ann_index_search" -> ((s, dir) => {
      // r14: the PERSISTED IVF-PQ index store — build once (train + encode
      // to cell-partitioned parquet, meta.json last), then search with
      // zero corpus scans and zero re-trainings: probed cells become
      // PartitionFilters, ADC reads only (id, codes, vnorm), the short
      // list re-ranks with exact cosines. Same kernels, probe order, ADC
      // tables, and two-stage top-k as the in-flight pqTopK, so the store
      // path is BIT-IDENTICAL to it — `forms_equal` pins that equality
      // in-plan, alongside the standard ANN property verdict. (The pin
      // ALSO exercises training determinism: build and pqTopK each run
      // the avg()-based k-means/codebook fit, whose float merges are
      // stable in the gate's local environment and under the
      // 200-partition soak; a real multi-executor cluster wanting this
      // exact pin should inject one shared model rather than rely on
      // shuffle-fetch order.)
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 3)
      val root = s"/tmp/graft_ann_idx_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val idx = graft.operators.AnnIndex.annSearchIndexed(s, root,
          q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
        .localCheckpoint(true) // feeds the verdict's five consumers + the equality join
      val fly = Similarity.pqTopK(emb, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, m = 8, nCentroids = 16, nCells = 16, nProbe = 8, kmeansIters = 2)
      val mism = topKMismatches(idx, fly)
      Similarity.topKPropertyVerdict(emb, "vec_id", "embedding", q, "vec_id", "embedding",
          idx, method = "ivfpq_store", slack = 0.15)
        .withColumn("forms_equal", lit(mism == 0L))
    }),

    "ann_index_search_batch" -> ((s, dir) => {
      // r14: BATTERY-AS-DATA search over the persisted store — the bm25
      // big-battery doctrine on the vector plane: queries never collect
      // to the driver, probes become a cell-equality join, the ADC inner
      // product computes from the plan-riding codebooks (PqAdcDirect, no
      // per-query driver table), so the plan is CONSTANT in battery size
      // (plan-pinned). The gate pins bit-identity against the driver-side
      // form over a 50-query battery.
      val emb = T(s, dir, "embeddings")
      val q   = emb.filter(col("vec_id") < 50)
      val root = s"/tmp/graft_ann_bat_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val bat = graft.operators.AnnIndex.annSearchIndexedBatch(s, root,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val drv = graft.operators.AnnIndex.annSearchIndexed(s, root,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val mism = topKMismatches(bat, drv)
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_batch").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("batch_equals_driver"))
    }),

    "ann_index_append" -> ((s, dir) => {
      // r14: index APPEND — deltas encode under the FROZEN build-time
      // model (batch-0 files immutable, only meta.json moves, written
      // last). The pin: build-on-even + append-odd searches bit-identical
      // to a ONE-SHOT build of the full corpus trained on the same even
      // sample (`train = Some(even)` — the train-on-a-sample workflow) —
      // so append is pure accretion, never a re-train. An appended (odd)
      // vector queried against the store self-hits at rank 1.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd  = emb.filter(col("vec_id") % 2 === 1)
      val rootA = s"/tmp/graft_ann_app_${tmpToken(dir)}"
      val rootB = s"/tmp/graft_ann_one_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootA,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexAppend(s, rootA, odd, "vec_id", "embedding")
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootB,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(even), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val a = searched(rootA).localCheckpoint(true)
      val mism = topKMismatches(a, searched(rootB))
      val selfHit = a.filter(col("query_id") === 1 && col("rank") === 1 &&
        col("neighbor_id") === 1 && col("cosine") > 0.999999).count() == 1L
      val nQueries = q.select("vec_id").distinct().count()
      a.sparkSession.range(1).select(
        lit("ivfpq_append").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("append_equals_oneshot"),
        lit(selfHit).as("appended_self_hit"))
    }),

    "ann_index_compact" -> ((s, dir) => {
      // r14: store COMPACTION — build-even + append-odd (two batch dirs)
      // compacts to a single-batch sibling: model.json copies verbatim
      // (no re-train, no re-encode), rows recluster by cell, the rewrite
      // validates against the source meta before the destination meta
      // commits. Search over the compacted store must be bit-identical
      // to the source store's.
      val emb  = T(s, dir, "embeddings")
      val src = s"/tmp/graft_ann_csrc_${tmpToken(dir)}"
      val dst = s"/tmp/graft_ann_cdst_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", src,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexAppend(s, src,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      graft.operators.AnnIndex.annIndexCompact(s, src, dst, overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val mism = topKMismatches(searched(dst), searched(src))
      val dstMeta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dst, "meta.json")), "UTF-8")
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_compact").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("compact_equals_source"),
        lit(dstMeta.contains("\"batches\": 1")).as("single_batch"))
    }),

    "ann_index_delete" -> ((s, dir) => {
      // r15: the vector DELETE plane — build the FULL corpus, delete the
      // odd half, and pin the search bit-identical to a from-scratch
      // build of the surviving even half under the SAME training input
      // (train = Some(full) — the frozen-model contract makes deletion
      // purely subtractive). Deleted vectors must vanish from the
      // ranking; compaction must drop the tombstoned rows physically,
      // reset the plane, and search identically.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd  = emb.filter(col("vec_id") % 2 === 1)
      val rootA = s"/tmp/graft_ann_del_${tmpToken(dir)}"
      val rootB = s"/tmp/graft_ann_delrb_${tmpToken(dir)}"
      val rootC = s"/tmp/graft_ann_delc_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootA,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexDelete(s, rootA,
        odd.select("vec_id"), "vec_id")
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootB,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(emb), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      def searched(root: String) = graft.operators.AnnIndex.annSearchIndexed(
        s, root, q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val a = searched(rootA).localCheckpoint(true)
      val mism = topKMismatches(a, searched(rootB))
      val deletedAbsent = a.filter(col("neighbor_id") % 2 === 1).count() == 0L
      graft.operators.AnnIndex.annIndexCompact(s, rootA, rootC, overwrite = true)
      val mismC = topKMismatches(searched(rootC), a)
      val dropped = s.read.parquet(s"$rootC/vectors/b0")
        .filter(col("id") % 2 === 1).count() == 0L
      val metaC = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(rootC, "meta.json")), "UTF-8")
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_delete").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("delete_equals_rebuild"),
        lit(deletedAbsent).as("deleted_absent"),
        lit(mismC == 0L).as("compact_equals"),
        lit(dropped && metaC.contains("\"tombBatches\": 0"))
          .as("tombstones_dropped"))
    }),

    "ann_index_search_filtered" -> ((s, dir) => {
      // r16: FILTERED vector search — a predicate over the store rows
      // applied PRE-RANK, so the k·refine short list draws entirely from
      // survivors (refill by construction: disallowed vectors never
      // occupy short-list slots). The pin: filtering the FULL store to
      // the even ids searches bit-identically to an unfiltered search of
      // a store holding ONLY the even vectors under the same frozen
      // model (train = full corpus on both sides) — and the batch form
      // agrees with the driver form under the same predicate. Disallowed
      // ids must never appear. Cell pruning surviving the predicate is
      // plan-pinned in PlanAuditSpec.
      val emb  = T(s, dir, "embeddings")
      val even = emb.filter(col("vec_id") % 2 === 0)
      val rootF = s"/tmp/graft_ann_filt_${tmpToken(dir)}"
      val rootR = s"/tmp/graft_ann_filtr_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", rootF,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", rootR,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2,
        train = Some(emb), overwrite = true)
      val q = emb.filter(col("vec_id") < 3)
      val pred = Some(col("id") % 2 === 0)
      val filtered = graft.operators.AnnIndex.annSearchIndexed(s, rootF,
          q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4,
          predicate = pred)
        .localCheckpoint(true) // three consumers below
      val restricted = graft.operators.AnnIndex.annSearchIndexed(s, rootR,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4)
      val batch = graft.operators.AnnIndex.annSearchIndexedBatch(s, rootF,
        q, "vec_id", "embedding", k = 10, nProbe = 8, refine = 4,
        predicate = pred)
      val mism = topKMismatches(filtered, restricted)
      val mismB = topKMismatches(batch, filtered)
      val disallowed = filtered.filter(col("neighbor_id") % 2 === 1).count()
      val nQueries = q.select("vec_id").distinct().count()
      s.range(1).select(
        lit("ivfpq_filtered").as("method"), lit(nQueries).as("n_queries"),
        lit(mism == 0L).as("filtered_equals_restricted_store"),
        lit(mismB == 0L).as("batch_equals_driver"),
        lit(disallowed == 0L).as("only_allowed_ids"))
    }),

    "ann_index_search_filtered_refill" -> ((s, dir) => {
      // r17: REFILL for filtered search — the r16 form was honest but
      // could silently return < k when a selective predicate's survivors
      // cluster in unprobed cells; refill = true re-probes starved
      // queries with doubled probe counts up to the full cell span. The
      // fixture engineers deterministic starvation at ANY scale: the
      // predicate confines survivors to ONE cell that is not the query's
      // own (the corpus assignment = the query's first probe, same
      // kernel), so the 1-probe search returns ZERO rows, and because
      // survivors occupy a single cell, whichever widening round first
      // probes it sees ALL of them — with refine sized to cover the cell,
      // the refilled top-k is EXACT brute force over the survivors,
      // bit-for-bit (cosine bits included, same tie rule).
      val emb  = T(s, dir, "embeddings")
      val root = s"/tmp/graft_ann_rfl_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val q = emb.filter(col("vec_id") === 7)
      val store0 = s.read.parquet(s"$root/vectors/b0").select("id", "cell", "vec")
        .localCheckpoint(true) // three consumers below
      val qCell = store0.filter(col("id") === 7).select("cell").head().getInt(0)
      val fRow = store0.filter(col("cell") =!= qCell).groupBy("cell")
        .agg(count(lit(1)).as("members"))
        .orderBy(col("members").desc, col("cell").asc).head()
      val fCell = fRow.getInt(0)
      val nSurv = fRow.getLong(1)
      val k = 5
      val refine = math.max(4, math.ceil(nSurv.toDouble / k).toInt)
      val pred = Some(col("cell") === fCell)
      val dry = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred)
      val refilled = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred, refill = true)
      import graft.functions.VectorFunctions.vec_cosine
      val qv = q.select("embedding").head().getSeq[Float](0)
      val brute = store0.filter(col("cell") === fCell)
        .select(col("id").as("neighbor_id"),
          vec_cosine(col("vec"), typedLit(qv)).as("cosine"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc).limit(k)
        .collect().map(r =>
          (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      val got = refilled.orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine"))))
      s.range(1).select(
        lit("ivfpq_refill").as("method"), lit(1L).as("n_queries"),
        lit(nSurv >= k).as("fixture_has_k_survivors"),
        lit(dry.count() == 0L).as("starved_without_refill"),
        lit(got.length == k).as("refill_fills_k"),
        lit(got.sameElements(brute)).as("equals_brute_force"))
    }),

    "ann_index_search_filtered_refill_batch" -> ((s, dir) => {
      // r18: REFILL on the battery-as-data form — the r17 asymmetry
      // closed: corpus-scale filtered batteries (THE production retrieval
      // shape) now auto-widen relationally (starved ids by anti-join,
      // doubled probes as a cell-equality join; queries never collect).
      // Same deterministic-starvation fixture as the driver-form gate:
      // the predicate confines survivors to ONE cell that is not the
      // query's first probe, so the 1-probe batch search returns ZERO
      // rows, and whichever widening round first probes that cell sees
      // ALL survivors — the refilled top-k is EXACT brute force over
      // them, bit-for-bit. Additionally pinned: bit-equality to the
      // DRIVER refill form (same schedule, probe rule, fill rule), and
      // widening fires ONLY on starved queries (an unstarved battery
      // runs exactly one pass).
      val emb  = T(s, dir, "embeddings")
      val root = s"/tmp/graft_ann_rflb_${tmpToken(dir)}"
      graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", root,
        nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      val q = emb.filter(col("vec_id") === 7)
      val store0 = s.read.parquet(s"$root/vectors/b0").select("id", "cell", "vec")
        .localCheckpoint(true) // three consumers below
      val qCell = store0.filter(col("id") === 7).select("cell").head().getInt(0)
      val fRow = store0.filter(col("cell") =!= qCell).groupBy("cell")
        .agg(count(lit(1)).as("members"))
        .orderBy(col("members").desc, col("cell").asc).head()
      val fCell = fRow.getInt(0)
      val nSurv = fRow.getLong(1)
      val k = 5
      val refine = math.max(4, math.ceil(nSurv.toDouble / k).toInt)
      val pred = Some(col("cell") === fCell)
      val dry = graft.operators.AnnIndex.annSearchIndexedBatch(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred)
      val refilled = graft.operators.AnnIndex.annSearchIndexedBatch(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred, refill = true)
      val got = refilled.orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine"))))
      val widened = graft.operators.AnnIndex.lastBatchRefillRounds.get() > 1
      val driver = graft.operators.AnnIndex.annSearchIndexed(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 1, refine = refine,
        predicate = pred, refill = true)
        .orderBy("rank").collect().map(r =>
          (r.getAs[Long]("neighbor_id"),
            java.lang.Double.doubleToLongBits(r.getAs[Double]("cosine"))))
      // unstarved control: one pass only, rows bit-equal to refill = false
      val calmA = graft.operators.AnnIndex.annSearchIndexedBatch(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 8, refine = 4)
        .orderBy("rank").collect().map(_.toSeq)
      val calmB = graft.operators.AnnIndex.annSearchIndexedBatch(s, root, q,
        "vec_id", "embedding", k = k, nProbe = 8, refine = 4, refill = true)
        .orderBy("rank").collect().map(_.toSeq)
      val onePass = graft.operators.AnnIndex.lastBatchRefillRounds.get() == 1
      import graft.functions.VectorFunctions.vec_cosine
      val qv = q.select("embedding").head().getSeq[Float](0)
      val brute = store0.filter(col("cell") === fCell)
        .select(col("id").as("neighbor_id"),
          vec_cosine(col("vec"), typedLit(qv)).as("cosine"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc).limit(k)
        .collect().map(r =>
          (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
      s.range(1).select(
        lit("ivfpq_refill_batch").as("method"), lit(1L).as("n_queries"),
        lit(nSurv >= k).as("fixture_has_k_survivors"),
        lit(dry.count() == 0L).as("starved_without_refill"),
        lit(got.length == k).as("refill_fills_k"),
        lit(got.sameElements(brute)).as("equals_brute_force"),
        lit(got.sameElements(driver) && widened).as("equals_driver_refill"),
        lit(calmA.sameElements(calmB) && onePass).as("widens_only_on_starved"))
    }),

    "pipeline_semdedup" -> ((s, dir) => {
      // SemDeDup (cluster + greedy keep-first prune, Dedup.semanticDedup):
      // centroid means are float sums whose exact values depend on partial
      // aggregation order, so the oracle pins ORDER-INVARIANT properties
      // instead of per-doc rows (the ann_recall_check convention): every
      // doc appears exactly once; no two KEPT docs share a cluster at
      // cosine >= threshold; every DROPPED doc's dup_of is an earlier
      // same-cluster doc above threshold and is the EARLIEST such doc.
      val emb = T(s, dir, "embeddings")
      val t = 0.4
      val res = Dedup.semanticDedup(emb, "vec_id", "embedding",
          threshold = t, nCells = 8, kmeansIters = 2)
        .localCheckpoint(true) // five consumers below; also pins one clustering
      val vecs = emb.select(col("vec_id").cast("long").as("id"), col("embedding").as("__v"))
      val keptPairViolations = res.filter(col("keep"))
        .select(col("cell"), col("id").as("id_a"))
        .join(res.filter(col("keep")).select(col("cell"), col("id").as("id_b")), Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .join(vecs.select(col("id").as("id_a"), col("__v").as("__va")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("__v").as("__vb")), "id_b")
        .filter(graft.functions.VectorFunctions.vec_cosine(col("__va"), col("__vb")) >= t)
        .count()
      val dropped = res.filter(!col("keep"))
      val badShadow = dropped
        .join(vecs, Seq("id"))
        .join(vecs.select(col("id").as("dup_of"), col("__v").as("__vd")), Seq("dup_of"))
        .filter(col("dup_of") >= col("id") ||
          graft.functions.VectorFunctions.vec_cosine(col("__v"), col("__vd")) < t)
        .count()
      // dup_of must be the EARLIEST same-cluster shadow: no j < dup_of
      // in the same cell with cosine >= t
      val notEarliest = dropped
        .join(vecs, Seq("id"))
        .join(res.select(col("cell"), col("id").as("j")), Seq("cell"))
        .filter(col("j") < col("dup_of"))
        .join(vecs.select(col("id").as("j"), col("__v").as("__vj")), Seq("j"))
        .filter(graft.functions.VectorFunctions.vec_cosine(col("__v"), col("__vj")) >= t)
        .count()
      import s.implicits._
      Seq((res.count(), keptPairViolations, badShadow, notEarliest,
          dropped.count() > 0))
        .toDF("n_total", "kept_pair_violations", "bad_shadow", "not_earliest",
          "any_dropped")
    }),

    // ===== extensions: text analysis =====

    "text_lang_id" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("guess"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(T(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_alpha", "n_space", "alpha_ratio", "mean_token_len")
        .orderBy("doc_id")
    }),

    "text_gopher_rules" -> ((s, dir) => {
      // Gopher quality-filter rules (Rae et al. 2021 A1) — per-rule
      // booleans + the keep conjunction, every ratio compared by integer
      // cross-multiplication so the DuckDB oracle is bit-exact
      TextAnalysis.gopherRules(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("id")
    }),

    "text_c4_clean" -> ((s, dir) => {
      // C4 line+page cleaning. The single-line punctuation-free corpus
      // becomes a deterministic five-line page (the dup_fragments
      // construction pattern): a long kept sentence, an unpunctuated
      // 40-char fragment (dropped), a short kept sentence, a javascript
      // boilerplate line (dropped), and — on every 5th doc — a brace
      // line that trips the page-level code gate
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(col("text"), lit(".")),
          substring(col("text"), 1, 40),
          lit("the data pipeline works well."),
          lit("please enable javascript to continue."),
          when(col("doc_id") % 5 === 0, lit("config = { verbose }"))
            .otherwise(lit("a clean closing line."))).as("text"))
      TextAnalysis.c4Clean(docs, "text", "doc_id").orderBy("id")
    }),

    "text_dup_fragments" -> ((s, dir) => {
      // Gopher duplicate line/paragraph fractions. The corpus is
      // single-line, so the query builds a deterministic multi-fragment
      // twin — each doc becomes (text ¶ prefix40 ¶ prefix40) — and the
      // oracle applies the identical construction; the duplicated prefix
      // paragraphs give every doc a nonzero dup fraction
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n\n", col("text"),
          substring(col("text"), 1, 40), substring(col("text"), 1, 40)).as("text"))
      TextAnalysis.duplicateFragmentFractions(docs, "text", "doc_id")
        .orderBy("id")
    }),

    "text_repetition_ngrams" -> ((s, dir) => {
      // Gopher repetition n-gram filters: top-bigram char fraction +
      // merged dup-5-gram char coverage, each from ONE zero-shuffle scan
      // expression (RepetitionStats) — the oracle re-derives both with
      // SQL window/island arithmetic over the same token lists
      TextAnalysis.repetitionNgramFractions(T(s, dir, "documents"), "text", "doc_id")
        .orderBy("id")
    }),

    "text_token_count" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // ===== extensions: multimodal =====

    "multimodal_meta" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), lit("text/plain").as("mime"),
          octet_length(col("text")).cast(LongType).as("n_bytes"), md5(col("text")).as("checksum"))
        .orderBy("doc_id")
    }),

    "multimodal_ahash" -> ((s, dir) => {
      // perceptual average-hash over the payload plane (stub decode: the
      // UTF-8 bytes ARE the "image"); exact integer thresholding keeps the
      // 64-bit fingerprint engine-portable
      Multimodal.averageHash(
          T(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "payload", "doc_id")
        .select(col("id").as("doc_id"), col("ahash_bits"))
        .orderBy("doc_id")
    }),

    "multimodal_frames" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), (col("n_chars") * 10).as("duration_ms"))
      Multimodal.sampleFrames(d, "doc_id", "duration_ms", everyMs = 500L)
        .orderBy("doc_id", "frame_idx")
    }),

    "multimodal_resize" -> ((s, dir) => {
      // aspect-fit resize planning (integer math, engine-portable); synthetic
      // source dims derived deterministically from n_chars on both sides
      val d = T(s, dir, "documents").select(col("doc_id"),
        (col("n_chars") % 1920 + 1).as("w"), ((col("n_chars") * 7) % 1080 + 1).as("h"))
      Multimodal.resizePlan(d, "doc_id", "w", "h", target = 224)
        .orderBy("doc_id")
    }),

    "multimodal_decode_features" -> ((s, dir) => {
      // r13: REAL decode→featurize (replaces the multimodal_decode_stub
      // byte-histogram) — ImageIO decodes the fixture's actual container
      // bytes inside the batched mapInPandas-shaped partition loop, and
      // the 8 pixel statistics are exact integer sums + single IEEE
      // divisions, so the oracle re-derives every double bit-for-bit from
      // the fixture's pixel formula ((x·31+y·17+id) & 0xffffff). Lossless
      // formats only (png/bmp — the multimodal_phash precedent: jpeg is
      // lossy, gif palette-quantized); strict — an undecodable payload
      // refuses, never a silent null feature.
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
        .filter(pmod(col("img_id"), lit(4)).isin(0, 3))
      Multimodal.decodeFeaturesBatched(imgs, "img_id", "payload", strict = true)
        .select(col("id"),
          element_at(col("features"), 1).as("f_w"),
          element_at(col("features"), 2).as("f_h"),
          element_at(col("features"), 3).as("f_mean_r"),
          element_at(col("features"), 4).as("f_mean_g"),
          element_at(col("features"), 5).as("f_mean_b"),
          element_at(col("features"), 6).as("f_mean_luma"),
          element_at(col("features"), 7).as("f_luma_range"),
          element_at(col("features"), 8).as("f_bright"))
        .orderBy("id")
    }),

    "multimodal_image_meta" -> ((s, dir) => {
      // REAL container dims: the fixture encodes actual PNG/JPEG/GIF/BMP
      // bytes (ImageIO), the engine parses them back with the native
      // header-parse expression (strict — an unknown container refuses,
      // never a silent wrong dimension), and the resize plan runs on the
      // PARSED dims; the oracle re-derives everything from doc_id
      // arithmetic, so any encoder/parser header-offset disagreement fails
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
      val meta = Multimodal.imageMeta(imgs, "payload", "img_id", strict = true)
      val rs   = Multimodal.resizePlan(meta, "id", "width", "height", target = 224)
      meta.join(rs.select("id", "out_w", "out_h"), Seq("id"))
        .select(col("id"), col("format"), col("width"), col("height"),
          col("channels"), col("out_w"), col("out_h"))
        .orderBy("id")
    }),

    "multimodal_audio_meta" -> ((s, dir) => {
      // r11: REAL audio container facts — the fixture encodes actual WAV
      // (the JDK's own javax.sound writer) and FLAC STREAMINFO payloads,
      // the engine parses the BYTES back with the native header-parse
      // expression (strict — unknown containers refuse, never a silent
      // wrong duration), and the oracle re-derives everything from the
      // clip_id arithmetic, so any encoder/parser offset disagreement
      // fails the gate.
      val clips = s.read.parquet(ensureAudioFixture(s, dir))
      Multimodal.audioMeta(clips, "payload", "clip_id", strict = true)
        .select(col("id"), col("format"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"))
        .orderBy("id")
    }),

    "multimodal_video_meta" -> ((s, dir) => {
      // r11: REAL video container facts — the fixture hand-encodes actual
      // ISO BMFF boxes (spec offsets, independent of the parser's walk),
      // the engine walks the BYTES back with the native Mp4Meta expression
      // (strict — a non-BMFF or truncated payload refuses, never a silent
      // wrong duration), and the oracle re-derives everything from the
      // clip_id arithmetic, so any encoder/parser offset disagreement
      // fails the gate.
      val clips = s.read.parquet(ensureVideoFixture(s, dir))
      Multimodal.videoMeta(clips, "payload", "clip_id", strict = true)
        .select(col("id"), col("brand"), col("timescale"), col("duration_ms"),
          col("n_tracks"), col("video_tracks"), col("audio_tracks"),
          col("width"), col("height"))
        .orderBy("id")
    }),

    "multimodal_phash" -> ((s, dir) => {
      // r11: REAL pixel-plane perceptual hash — ImageIO decodes the
      // fixture's actual container bytes, the 8×8 integer-luma thumbnail
      // thresholds division-free, and the oracle re-derives the EXACT bit
      // string in SQL from the fixture's known pixel function
      // ((x·31+y·17+id) & 0xffffff). Restricted to the LOSSLESS formats
      // (png, bmp — id%4 ∈ {0,3}): jpeg decode is lossy and gif is
      // palette-quantized by the encoder, so their decoded pixels are
      // reader-implementation facts, not arithmetic (the MultimodalSpec
      // covers them via ImageIO round-trip instead). strict: an
      // undecodable payload refuses loudly, never a silent fingerprint.
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
        .filter(pmod(col("img_id"), lit(4)).isin(0, 3))
      Multimodal.pixelAverageHash(imgs, "payload", "img_id", strict = true)
        .select(col("id"), col("phash_bits"))
        .orderBy("id")
    }),

    // ===== extensions: event-stream analytics (batch shape) =====

    "q_grouping_sets" -> ((s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           | FROM orders_v
           | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
           | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }),

    "q_scalar_functions" -> ((s, dir) => {
      T(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_type")).as("u"),
          lower(col("p_brand")).as("l"),
          substring(col("p_name"), 1, 5).as("pre"),
          length(col("p_name")).as("len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
          abs(col("p_size") - 25).as("absz"),
          pmod(col("p_partkey"), lit(7)).as("m7"),
          floor(col("p_retailprice")).cast(LongType).as("flr"),
          ceil(col("p_retailprice")).cast(LongType).as("cl"),
          coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("thirteen")).as("co"),
          trim(lit("  x  ")).as("tr"))
        .orderBy("p_partkey")
    }),

    "q_datetime_functions" -> ((s, dir) => {
      // date/time function breadth over the order timeline
      val od = col("o_orderdate").cast("timestamp")
      T(s, dir, "orders")
        .filter(col("o_custkey") % 1000 === 0)
        .select(
          col("o_orderkey"),
          year(od).as("yr"), month(od).as("mo"), dayofmonth(od).as("dy"),
          (dayofweek(od) - 1).as("dow0"), dayofyear(od).as("doy"), quarter(od).as("qtr"),
          unix_micros(date_trunc("week", od)).as("week_start_us"),
          unix_micros(last_day(od.cast("date")).cast("timestamp")).as("month_end_us"),
          unix_micros(date_add(od.cast("date"), 30).cast("timestamp")).as("plus30_us"))
        .orderBy("o_orderkey")
    }),

    "q_map_functions" -> ((s, dir) => {
      // map-typed column round trip: build, probe, enumerate
      val m = map(lit("lang"), col("lang"), lit("src"), col("source"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          element_at(m, "lang").as("m_lang"),
          element_at(m, "src").as("m_src"),
          size(m).as("n_keys"),
          array_join(map_keys(m), ",").as("keys"))
        .orderBy("doc_id")
    }),

    "q_anti_join" -> ((s, dir) => {
      // customers that never placed an urgent order (left_anti = NOT EXISTS)
      val c = T(s, dir, "customer")
      val urgent = T(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      c.join(urgent, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    "q_range_join" -> ((s, dir) => {
      // binned interval join: 7-day windows after sampled orders vs all order dates
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
      val o = T(s, dir, "orders")
        .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
      val day = 86400L * 1000000L
      val intervals = o.filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey").as("window_key"), col("od_us").as("win_start"),
          (col("od_us") + lit(7L * day)).as("win_end"))
      val points = o.select(col("o_orderkey").as("point_key"), col("od_us"))
      graft.operators.RangeJoin
        .binnedIntervalJoin(intervals, points, "win_start", "win_end", "od_us", binWidth = 7L * day)
        .groupBy("window_key").agg(count(lit(1)).as("n_orders_in_window"))
        .orderBy("window_key")
    }),

    "q_set_ops" -> ((s, dir) => {
      // languages seen in web-ish sources vs wiki-ish sources: INTERSECT / EXCEPT
      val docs = T(s, dir, "documents")
      val a = docs.filter(col("source").isin("src0", "src1", "src2")).select("lang")
      val b = docs.filter(col("source").isin("src3", "src4")).select("lang")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_a")))
        .orderBy("op", "lang")
    }),

    "q_rollup" -> ((s, dir) => {
      T(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    "q_pivot" -> ((s, dir) => {
      // PIVOT with explicit values — listing them keeps the plan a single
      // groupBy (no extra distinct-values job at scale)
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(dec(col("o_totalprice"))))
        .select(col("o_orderpriority"),
          col("F").cast(DoubleType).as("f_price"),
          col("O").cast(DoubleType).as("o_price"),
          col("P").cast(DoubleType).as("p_price"))
        .orderBy("o_orderpriority")
    }),

    "q_unpivot" -> ((s, dir) => {
      // UNPIVOT/melt: wide per-status metrics back to tall (status, metric, value)
      T(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast(DoubleType).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .unpivot(Array(col("o_orderstatus")), Array(col("n_orders"), col("sum_price")),
          "metric", "value")
        .orderBy("o_orderstatus", "metric")
    }),

    "q_json_functions" -> ((s, dir) => {
      // JSON path extraction + schema-driven parse over a JSON column (the
      // document-metadata sidecar shape of a training pipeline)
      val js = concat(lit("{\"lang\":\""), col("lang"), lit("\",\"n\":"), col("n_chars"),
        lit(",\"src\":\""), col("source"), lit("\"}"))
      val schema = "lang STRING, n BIGINT, src STRING"
      T(s, dir, "documents")
        .select(col("doc_id"), js.as("js"))
        .select(col("doc_id"),
          get_json_object(col("js"), "$.lang").as("j_lang"),
          get_json_object(col("js"), "$.n").cast(LongType).as("j_n"),
          from_json(col("js"), schema, Map.empty[String, String]).getField("src").as("j_src"))
        .orderBy("doc_id")
    }),

    "events_funnel" -> ((s, dir) => {
      // ordered funnel: first view, first click AFTER that view, first
      // purchase AFTER that click — three chained per-user window minima
      // (one shuffle on user_id, reused by all three), then one count row
      val w  = Window.partitionBy("user_id")
      val e  = events(s, dir).select("user_id", "event_type", "us")
      val s3 = e
        .withColumn("v_us", min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("c_us", min(when(col("event_type") === "click" && col("us") > col("v_us"), col("us"))).over(w))
        .withColumn("p_us", min(when(col("event_type") === "purchase" && col("us") > col("c_us"), col("us"))).over(w))
      s3.groupBy("user_id")
        .agg(max(col("v_us")).as("v"), max(col("c_us")).as("c"), max(col("p_us")).as("p"))
        .agg(
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_click_after_view"),
          sum(when(col("p").isNotNull, 1L).otherwise(0L)).as("n_purchase_full_funnel"))
    }),

    "events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy((col("us") - col("us") % lit(3600000000L)).as("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("hour_us", "event_type")
    }),

    "events_sessionize" -> ((s, dir) => {
      val e  = events(s, dir).select("user_id", "event_id", "us")
      val w  = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gap = col("us") - lag(col("us"), 1).over(w)
      e.withColumn("is_new", when(gap.isNull || gap > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("first_us"), max(col("us")).as("last_us"))
        .orderBy("user_id", "session_id")
    }),
  )

  // ------------------------------------------------------------ oracle SQL

  /** Shared DSIR oracle plane (one definition for the three dsir gates —
    * a one-sided edit to the tokenizer/ord/smoothing would otherwise
    * silently desynchronize the gates that cross-check it): tokens →
    * interleaved unigram+bigram grams with walk order → md5-first-3-hex
    * buckets. */
  private val dsirGramCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, CASE WHEN i = 1 THEN 1 ELSE 2*i - 2 END AS ord, t[i] AS g
      |  FROM toks, UNNEST(range(1, len(t)+1)) r(i)
      |  UNION ALL
      |  SELECT doc_id, 2*i + 1, t[i] || ' ' || t[i+1] FROM toks, UNNEST(range(1, len(t))) r(i)),
      |gb AS (
      |  SELECT doc_id, ord,
      |    (CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 256
      |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 16
      |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) AS b
      |  FROM (SELECT doc_id, ord, md5(g) AS h FROM grams))""".stripMargin

  /** …plus the per-doc score fold: add-1-smoothed log-ratio weights summed
    * by ordered list_reduce; `allr` = every raw doc with its (n_grams, s). */
  private val dsirScoreCtes: String = dsirGramCtes + ",\n" +
    """tc AS (SELECT b, COUNT(*) AS c FROM gb WHERE doc_id % 10 = 0 GROUP BY b),
      |rc AS (SELECT b, COUNT(*) AS c FROM gb WHERE doc_id % 10 <> 0 GROUP BY b),
      |tt AS (SELECT COUNT(*) AS s FROM gb WHERE doc_id % 10 = 0),
      |rt AS (SELECT COUNT(*) AS s FROM gb WHERE doc_id % 10 <> 0),
      |wt AS (
      |  SELECT gb.doc_id, gb.ord,
      |    ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE) / CAST(tt.s + 4096 AS DOUBLE))
      |  - ln(CAST(COALESCE(rc.c, 0) + 1 AS DOUBLE) / CAST(rt.s + 4096 AS DOUBLE)) AS w
      |  FROM gb CROSS JOIN tt CROSS JOIN rt
      |  LEFT JOIN tc ON gb.b = tc.b LEFT JOIN rc ON gb.b = rc.b
      |  WHERE gb.doc_id % 10 <> 0),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |         list_reduce(list(w ORDER BY ord), (a, x) -> a + x) AS s
      |  FROM wt GROUP BY doc_id),
      |allr AS (
      |  SELECT d.doc_id, COALESCE(sc.n_grams, 0) AS n_grams, COALESCE(sc.s, 0.0) AS s
      |  FROM documents d LEFT JOIN sc USING (doc_id) WHERE d.doc_id % 10 <> 0)""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase +
    // SAME oracle as the v2 sink gate — both round trips write the shared
    // tidy plane (zarrTidyPlane), so the format swap must be invisible
    ("save_zarr_v3_roundtrip" -> oracleSqlBase("save_zarr_roundtrip")) +
    // SAME oracle again for the blosc arm (r14): one more execution-form
    // twin of the identical tidy plane — codec choice must be invisible
    ("save_zarr_v3_blosc" -> oracleSqlBase("save_zarr_roundtrip")) +
    // SAME oracle as the literal-form BM25 gate: the inverted-index form
    // folds per-term contributions in query term order, so its ranking
    // must be hash-identical on the same battery
    ("search_bm25_batch" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle again: the 1,022 pad probes only grow the vocabulary
    // (r15: the sparse-kernel build at a size the dense kernel refused) —
    // they match nothing and per-query scoring is independent, so the
    // real-probe slice is the literal form's ranking
    ("search_bm25_batch_bigvocab" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle again (r15): the branch-forced explode+semi-join
    // posting build — identical posting rows, identical ranking
    ("search_bm25_batch_explode" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle, third execution form (r14): the persisted posting
    // store with one append must rank hash-identically to the literal
    // plan over the same corpus
    ("search_bm25_indexed" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle a FOURTH time: build + append + COMPACT must still rank
    // hash-identically — compaction rewrites postings globally
    // term-sorted but never re-tokenizes or changes a single posting
    ("search_bm25_compacted" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle a FIFTH time (r15): build-with-poison-docs + DELETE
    // must rank hash-identically to the literal form over the original
    // corpus — the tombstone plane must be invisible in scores, df, and
    // the meta's n/avgdl
    ("search_bm25_deleted" -> oracleSqlBase("search_bm25_topk")) +
    // SAME oracle as the in-flight hybrid fusion (r16): over the persisted
    // stores, the bm25 side is hash-identical to the literal form and the
    // ANN side runs at its exact calibration point (all cells probed,
    // refine spanning the corpus ⇒ the exact re-rank IS brute force), so
    // the fused ranking shares the one DuckDB truth verbatim
    ("search_hybrid_indexed" -> oracleSqlBase("search_hybrid_rrf")) +
    // SAME oracle as the per-phrase form (r17): the battery-as-data form
    // runs the identical adjacency vote through ONE positions scan and
    // the shared scoring tail — same battery, hash-equal rows against
    // the same independent string-adjacency truth
    ("search_bm25_phrase_batch" -> oracleSqlBase("search_bm25_phrase")) +
    // SAME oracle as the per-phrase NEAR form (r17): the banded vote at
    // slop = 1 with the battery as data — hash-equal rows against the
    // same windowed-indexing truth
    ("search_bm25_near_batch" -> oracleSqlBase("search_bm25_near")) +
    // SAME oracle as the per-phrase SCORER (r17): the battery-as-data
    // scorer runs the same adjacency kernel inside one expression —
    // same battery and model, hash-equal rows against the same
    // string-adjacency truth
    ("search_bm25_phrase_scored_batch" -> oracleSqlBase("search_bm25_phrase_scored")) +
    // SAME oracle as the per-phrase NEAR scorer (r17): the banded
    // kernel at slop = 1 with the battery as data — hash-equal rows
    // against the same windowed-indexing truth
    ("search_bm25_near_scored_batch" -> oracleSqlBase("search_bm25_near_scored")) +
    // SAME oracle as the JSON-form templated gate: the JSON→parquet-refs
    // migration must be invisible to every decoded cell
    ("save_kerchunk_parquet_refs" -> oracleSqlBase("load_kerchunk_templated")) +
    // SAME oracle as the index-ordered combine: the coordinate-ordered
    // mode (scrambled inputs) must be invisible to every decoded cell
    ("combine_kerchunk_by_coords" -> oracleSqlBase("combine_kerchunk_indexes")) +
    // SAME oracle again: store-then-append must decode exactly the
    // one-shot combine of all three sources
    ("append_kerchunk_parquet_refs" -> oracleSqlBase("combine_kerchunk_indexes")) +
    // SAME pinned values as load_netcdf3 — load_netcdf_tar reads the same
    // file as a tar member, so any tar-framing error (offset shift, member
    // misresolution) breaks the hash while the oracle stays authoritative
    ("load_netcdf_tar" -> oracleSqlBase("load_netcdf3")) +
    // the glob collection = file 1's 87 rows (the load_netcdf3 oracle,
    // reused verbatim) + file 2's 56 time-carrying rows injected into the
    // same VALUES table — nested concat must add exactly those rows and
    // touch nothing else
    ("load_netcdf_glob" -> {
      val marker = "\n) AS t(variable"
      val sql = oracleSqlBase("load_netcdf3").replace(marker, ",\n" + cmip5File2Rows + marker)
      require(sql.length > oracleSqlBase("load_netcdf3").length,
        "load_netcdf3 oracle shape changed — re-derive the glob injection")
      sql
    })

  /** File 2 of the reference's CMIP5 tasmax glob (HDF5/netCDF-4,
    * tests/test_source.py:41): all 56 values of its time-carrying variables
    * (tasmax, time, time_bnds) with the record coordinate shifted by file
    * 1's two records — pinned by an independent python parse
    * (scripts/h5survey.py decode_var + global-coordinate unravel). */
  private val cmip5File2Rows: String =
    """('tasmax','time.lat.lon','2.0.0','255.84188842773438'),
      |('tasmax','time.lat.lon','2.0.1','255.84188842773438'),
      |('tasmax','time.lat.lon','2.0.2','255.84188842773438'),
      |('tasmax','time.lat.lon','2.0.3','255.84188842773438'),
      |('tasmax','time.lat.lon','2.0.4','255.84188842773438'),
      |('tasmax','time.lat.lon','2.1.0','256.97027587890625'),
      |('tasmax','time.lat.lon','2.1.1','256.9209899902344'),
      |('tasmax','time.lat.lon','2.1.2','256.8812561035156'),
      |('tasmax','time.lat.lon','2.1.3','256.8370056152344'),
      |('tasmax','time.lat.lon','2.1.4','256.7801513671875'),
      |('tasmax','time.lat.lon','2.2.0','258.2611999511719'),
      |('tasmax','time.lat.lon','2.2.1','258.1934509277344'),
      |('tasmax','time.lat.lon','2.2.2','258.12554931640625'),
      |('tasmax','time.lat.lon','2.2.3','258.0267639160156'),
      |('tasmax','time.lat.lon','2.2.4','257.927490234375'),
      |('tasmax','time.lat.lon','2.3.0','258.88507080078125'),
      |('tasmax','time.lat.lon','2.3.1','258.7810974121094'),
      |('tasmax','time.lat.lon','2.3.2','258.6761169433594'),
      |('tasmax','time.lat.lon','2.3.3','258.5372314453125'),
      |('tasmax','time.lat.lon','2.3.4','258.40301513671875'),
      |('tasmax','time.lat.lon','2.4.0','259.60638427734375'),
      |('tasmax','time.lat.lon','2.4.1','259.4760437011719'),
      |('tasmax','time.lat.lon','2.4.2','259.34454345703125'),
      |('tasmax','time.lat.lon','2.4.3','259.2398986816406'),
      |('tasmax','time.lat.lon','2.4.4','259.17669677734375'),
      |('tasmax','time.lat.lon','3.0.0','243.99853515625'),
      |('tasmax','time.lat.lon','3.0.1','243.99853515625'),
      |('tasmax','time.lat.lon','3.0.2','243.99853515625'),
      |('tasmax','time.lat.lon','3.0.3','243.99853515625'),
      |('tasmax','time.lat.lon','3.0.4','243.99853515625'),
      |('tasmax','time.lat.lon','3.1.0','245.4482879638672'),
      |('tasmax','time.lat.lon','3.1.1','245.39979553222656'),
      |('tasmax','time.lat.lon','3.1.2','245.3414764404297'),
      |('tasmax','time.lat.lon','3.1.3','245.2953338623047'),
      |('tasmax','time.lat.lon','3.1.4','245.2533416748047'),
      |('tasmax','time.lat.lon','3.2.0','245.65126037597656'),
      |('tasmax','time.lat.lon','3.2.1','245.53457641601562'),
      |('tasmax','time.lat.lon','3.2.2','245.43777465820312'),
      |('tasmax','time.lat.lon','3.2.3','245.33885192871094'),
      |('tasmax','time.lat.lon','3.2.4','245.24212646484375'),
      |('tasmax','time.lat.lon','3.3.0','245.50172424316406'),
      |('tasmax','time.lat.lon','3.3.1','245.36776733398438'),
      |('tasmax','time.lat.lon','3.3.2','245.22950744628906'),
      |('tasmax','time.lat.lon','3.3.3','245.09181213378906'),
      |('tasmax','time.lat.lon','3.3.4','244.944580078125'),
      |('tasmax','time.lat.lon','3.4.0','244.93466186523438'),
      |('tasmax','time.lat.lon','3.4.1','244.65748596191406'),
      |('tasmax','time.lat.lon','3.4.2','244.44102478027344'),
      |('tasmax','time.lat.lon','3.4.3','244.19937133789062'),
      |('tasmax','time.lat.lon','3.4.4','243.9859161376953'),
      |('time','time','2','15.0'),
      |('time','time','3','45.0'),
      |('time_bnds','time.bnds','2.0','0.0'),
      |('time_bnds','time.bnds','2.1','30.0'),
      |('time_bnds','time.bnds','3.0','30.0'),
      |('time_bnds','time.bnds','3.1','60.0')""".stripMargin

  /** Shared DuckDB CTE prefix: the complete BM25 ranking re-derivation
    * over the 3-query battery (same Okapi formula, left-to-right float
    * sums, see search_bm25_topk) ending in `scored` — consumed by
    * search_bm25_topk, search_bm25_batch AND search_hybrid_rrf. */
  private val bm25OracleCtes: String =
    """toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    len(list_filter(t, x -> x = 'spark'))  AS tf_spark,
        |    len(list_filter(t, x -> x = 'hash'))   AS tf_hash,
        |    len(list_filter(t, x -> x = 'join'))   AS tf_join,
        |    len(list_filter(t, x -> x = 'fast'))   AS tf_fast,
        |    len(list_filter(t, x -> x = 'table'))  AS tf_table,
        |    len(list_filter(t, x -> x = 'scan'))   AS tf_scan,
        |    len(list_filter(t, x -> x = 'stream')) AS tf_stream,
        |    len(list_filter(t, x -> x = 'window')) AS tf_window,
        |    len(list_filter(t, x -> x = 'agg'))    AS tf_agg
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_spark,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hash   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hash   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hash,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_join   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_join,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_fast   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_fast   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_fast,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_table  > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_table  > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_table,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_scan   > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_scan   > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_scan,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_stream,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_window,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_agg    > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_agg    > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_agg
        |  FROM tf),
        |normed AS (
        |  SELECT tf.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(tf.dl AS DOUBLE) AS nrm
        |  FROM tf, st),
        |scored AS (
        |  SELECT 'q_join' AS query_id, doc_id, dl,
        |    tf_spark + tf_hash + tf_join AS tf_total,
        |    (idf_spark * CAST(tf_spark AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_spark AS DOUBLE) + nrm))
        |    + (idf_hash * CAST(tf_hash AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hash AS DOUBLE) + nrm))
        |    + (idf_join * CAST(tf_join AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_join AS DOUBLE) + nrm)) AS score
        |  FROM normed
        |  UNION ALL
        |  SELECT 'q_scan', doc_id, dl,
        |    tf_fast + tf_table + tf_scan,
        |    (idf_fast * CAST(tf_fast AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_fast AS DOUBLE) + nrm))
        |    + (idf_table * CAST(tf_table AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_table AS DOUBLE) + nrm))
        |    + (idf_scan * CAST(tf_scan AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_scan AS DOUBLE) + nrm))
        |  FROM normed
        |  UNION ALL
        |  SELECT 'q_stream', doc_id, dl,
        |    tf_stream + tf_window + tf_agg,
        |    (idf_stream * CAST(tf_stream AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_stream AS DOUBLE) + nrm))
        |    + (idf_window * CAST(tf_window AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_window AS DOUBLE) + nrm))
        |    + (idf_agg * CAST(tf_agg AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_agg AS DOUBLE) + nrm))
        |  FROM normed)""".stripMargin

  private lazy val oracleSqlBase: Map[String, String] = ListMap(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
         | ${dsumSql("l_extendedprice")} AS sum_base_price,
         | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         | COUNT(*) AS count_order
         | FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         | GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
        | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING'
        | GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_star_join" ->
      s"""SELECT r_name, ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         | FROM orders JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         | GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_cube_agg" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         | FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, CAST(rnk AS INT) AS rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders) WHERE rnk <= 3 ORDER BY o_orderpriority, rank""".stripMargin,

    "q_salted_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // same grid + unrolled bit-interleave arithmetic, independently spelled
    // in DuckDB's integer/bit operators
    "q_zorder_curve" -> {
      val terms = (for { (c, i) <- Seq("cp", "cs").zipWithIndex; b <- 0 until 8 }
        yield s"((($c >> $b) & 1) << ${b * 2 + i})").mkString(" | ")
      s"""WITH g AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  least(255, greatest(0, (l_partkey * 256) // 262144)) AS cp,
         |  least(255, greatest(0, (l_suppkey * 256) // 262144)) AS cs
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, ($terms) AS zval
         |FROM g ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin
    },

    // bucketing is a physical layout, not a semantics change: the oracle is
    // the same join/agg over the un-bucketed parquet
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items, ${dsumSql("l_extendedprice")} AS sum_price
         | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "events_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |p AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, us, MAX(event_id) AS view_event FROM e
        |      WHERE event_type = 'view' GROUP BY user_id, us)
        |SELECT p.user_id, p.event_id, p.us, v.us AS view_us, v.view_event
        | FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
        | ORDER BY p.user_id, p.us, p.event_id""".stripMargin,

    "scan_catalog_parquet" ->
      "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",

    "scan_catalog_csv" ->
      "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region ORDER BY CAST(r_regionkey AS INT)",

    "scan_kerchunk_reference" ->
      """WITH t AS (SELECT content FROM read_text('/root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json')),
        |k AS (SELECT unnest(json_keys(content, '$.refs')) AS key, content FROM t),
        |e AS (SELECT key, json_extract(content, '$.refs."' || key || '"') AS value FROM k)
        |SELECT key,
        | CASE WHEN strpos(key, '/') > 0 THEN regexp_replace(key, '/[^/]*$', '') ELSE '' END AS variable,
        | CASE WHEN regexp_extract(key, '[^/]*$') LIKE '.%' THEN 'meta'
        |      WHEN json_type(value) = 'ARRAY' THEN 'ref' ELSE 'inline' END AS kind,
        | CASE WHEN json_type(value) = 'ARRAY' THEN value->>0 END AS url,
        | CASE WHEN json_type(value) = 'ARRAY' THEN TRY_CAST(value->>1 AS BIGINT) END AS "offset",
        | CASE WHEN json_type(value) = 'ARRAY' THEN TRY_CAST(value->>2 AS BIGINT) END AS length
        |FROM e ORDER BY key""".stripMargin,

    // Same byte ranges read independently: read_blob on the target file,
    // hex, then 1-based substring at (offset*2+1, length*2); inline entries
    // re-derived with encode/from_base64. VALUES mirrors the fixture index
    // (ensureKerchunkFixture — fixed content).
    "load_kerchunk_chunks" ->
      """WITH blob AS (SELECT hex(content) AS h
        |  FROM read_blob('/root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json')),
        |refs(key, kind, o, l, inline) AS (VALUES
        |  ('.zgroup', 'meta', NULL, NULL, '{"zarr_format": 2}'),
        |  ('blob/.zarray', 'meta', NULL, NULL, '{"dtype": "|u1", "shape": [224], "chunks": [64], "compressor": null}'),
        |  ('blob/.zattrs', 'meta', NULL, NULL, '{"units": "bytes"}'),
        |  ('blob/0', 'ref', 0, 64, NULL),
        |  ('blob/1', 'ref', 64, 64, NULL),
        |  ('blob/2', 'ref', 4096, 64, NULL),
        |  ('blob/3', 'ref', 54000, 32, NULL),
        |  ('note/0', 'inline', NULL, NULL, 'inline-text-chunk'),
        |  ('note/1', 'inline', NULL, NULL, 'base64:AAECAwQF'))
        |SELECT key, kind, CAST(o AS BIGINT) AS "offset", CAST(l AS BIGINT) AS "length",
        |  CASE WHEN kind = 'ref' THEN (SELECT substring(h, o*2 + 1, l*2) FROM blob)
        |       WHEN inline LIKE 'base64:%' THEN hex(from_base64(substring(inline, 8)))
        |       ELSE hex(encode(inline)) END AS chunk_hex
        |FROM refs ORDER BY key""".stripMargin,

    // formula re-derivation (ensureZarrFixture writes chunks FROM these
    // formulas): decode correctness = the values round-tripping through
    // zlib/gzip bytes back to the exact same doubles. All steps are 0.25/0.5
    // multiples — exact in f4/f8, so no float fuzz.
    "load_kerchunk_typed" ->
      """WITH vals AS (
        |  SELECT 'temp' AS variable, CAST(i // 8 AS VARCHAR) AS chunk, CAST(i % 8 AS INT) AS idx,
        |         CAST(i AS DOUBLE) * 0.5 - 3.0 AS value FROM range(24) t(i)
        |  UNION ALL
        |  SELECT 'count', CAST(i // 5 AS VARCHAR), CAST(i % 5 AS INT),
        |         CAST(i * i - 17 AS DOUBLE) FROM range(10) t(i)
        |  UNION ALL
        |  SELECT 'big', '0', CAST(i AS INT), 1000000000.0 + 0.25 * CAST(i AS DOUBLE) FROM range(4) t(i)
        |  UNION ALL
        |  SELECT 'mask', '0', CAST(i AS INT), CAST((i * 7 + 3) % 256 AS DOUBLE) FROM range(6) t(i)
        |  UNION ALL
        |  SELECT 'packed', '0', CAST(i AS INT), CAST(i % 50 AS DOUBLE) FROM range(256) t(i)
        |  UNION ALL
        |  SELECT 'drift', '0', CAST(i AS INT), CAST(3 * (i * (i + 1) // 2) - 40 AS DOUBLE)
        |  FROM range(32) t(i)
        |  UNION ALL
        |  SELECT 'check', '0', CAST(i AS INT), CAST(7 * i - 11 AS DOUBLE) FROM range(6) t(i))
        |SELECT variable, chunk, idx, value FROM vals
        |ORDER BY variable, chunk, idx""".stripMargin,

    // coordinate re-derivation: the fixture writes value = y*100+x (grid)
    // and 3i-5 (vec) AT each coordinate, so the oracle reconstructs the
    // whole labeled output from range() cross joins alone — agreement means
    // chunk-grid math, C-order strides, AND edge-padding drop are all right
    "load_kerchunk_coords" ->
      """WITH grid AS (
        |  SELECT 'grid' AS variable, 'y.x' AS dims,
        |         CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR) AS coord_key,
        |         CAST(r * 100 + c AS DOUBLE) AS value
        |  FROM range(5) t(r) CROSS JOIN range(7) u(c)
        |  UNION ALL
        |  SELECT 'vec', 'dim0', CAST(i AS VARCHAR), CAST(i * 3 - 5 AS DOUBLE)
        |  FROM range(10) t(i))
        |SELECT variable, dims, coord_key, value FROM grid
        |ORDER BY variable, value""".stripMargin,

    // the v1 templates/gen expansion re-derived from the SAME spec
    // semantics in SQL: range products for the gen dimensions, the spec's
    // arithmetic offset formulas, the rendered template URL as a literal,
    // and the shadowed static gen/0 ref ABSENT (gen overrides refs)
    "scan_kerchunk_templated" ->
      """WITH meta(key, variable) AS (VALUES
        |  ('.zgroup', ''), ('gen/.zarray', 'gen'),
        |  ('grid/.zarray', 'grid'), ('solo/.zarray', 'solo')),
        |gen AS (SELECT 'gen/' || CAST(i AS VARCHAR) AS key, 'gen' AS variable,
        |        CAST((i + 2) * 16 AS BIGINT) AS o FROM range(4) t(i)),
        |grid AS (SELECT 'grid/' || CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR) AS key,
        |        'grid' AS variable, CAST(96 + (r * 2 + c) * 16 AS BIGINT) AS o
        |        FROM range(2) a(r) CROSS JOIN range(2) b(c)),
        |rows AS (
        |  SELECT key, variable, 'meta' AS kind, CAST(NULL AS VARCHAR) AS url,
        |         CAST(NULL AS BIGINT) AS "offset", CAST(NULL AS BIGINT) AS length FROM meta
        |  UNION ALL
        |  SELECT 'solo/0', 'solo', 'ref',
        |         'file:///tmp/graft_kerchunk_tpl_fixture/store.bin', 0, 16
        |  UNION ALL
        |  SELECT key, variable, 'ref',
        |         'file:///tmp/graft_kerchunk_tpl_fixture/store.bin', o, 16 FROM gen
        |  UNION ALL
        |  SELECT key, variable, 'ref',
        |         'file:///tmp/graft_kerchunk_tpl_fixture/store.bin', o, 16 FROM grid)
        |SELECT key, variable, kind, url, "offset", length FROM rows ORDER BY key""".stripMargin,

    // value re-derivation from the store formula v_k = 5k - 7 at the
    // offsets the gen templates compute: agreement proves the rendered
    // urls/offsets land the byte ranges exactly where the v1 spec says
    "load_kerchunk_templated" ->
      """WITH vals AS (
        |  SELECT 'gen' AS variable, CAST(c AS VARCHAR) AS chunk, CAST(j AS INT) AS idx,
        |         CAST(33 + 20 * c + 5 * j AS DOUBLE) AS value
        |  FROM range(4) a(c) CROSS JOIN range(4) b(j)
        |  UNION ALL
        |  SELECT 'grid', CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR), CAST(j AS INT),
        |         CAST(113 + 20 * (r * 2 + c) + 5 * j AS DOUBLE)
        |  FROM range(2) a(r) CROSS JOIN range(2) b(c) CROSS JOIN range(4) d(j)
        |  UNION ALL
        |  SELECT 'solo', '0', CAST(j AS INT), CAST(5 * j - 7 AS DOUBLE) FROM range(4) t(j))
        |SELECT variable, chunk, idx, value FROM vals ORDER BY variable, chunk, idx""".stripMargin,

    // the parquet-store entry map re-derived row by row: record-file row
    // positions → C-order chunk keys, inline/byte-range/whole-file kinds,
    // and the missing (all-null) chunk ABSENT. Meta rows carry their
    // consolidated JSON inline (has_inline true).
    "scan_kerchunk_parquet_refs" ->
      """WITH rows(key, kind, url, o, l, has_inline) AS (VALUES
        |  ('.zgroup', 'meta', NULL, NULL, NULL, true),
        |  ('flag/.zarray', 'meta', NULL, NULL, NULL, true),
        |  ('flag/.zattrs', 'meta', NULL, NULL, NULL, true),
        |  ('flag/0.0', 'inline', NULL, NULL, NULL, true),
        |  ('flag/0.1', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/flagchunk.bin', 0, 16, false),
        |  ('note/.zarray', 'meta', NULL, NULL, NULL, true),
        |  ('note/0', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/note0.bin', NULL, NULL, false),
        |  ('temp/.zarray', 'meta', NULL, NULL, NULL, true),
        |  ('temp/.zattrs', 'meta', NULL, NULL, NULL, true),
        |  ('temp/0', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/store.bin', 0, 24, false),
        |  ('temp/1', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/store.bin', 24, 24, false),
        |  ('temp/2', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/store.bin', 48, 24, false),
        |  ('temp/3', 'ref', 'file:///tmp/graft_kerchunk_parq_fixture/store.bin', 72, 24, false))
        |SELECT key, kind, CAST(url AS VARCHAR) AS url, CAST(o AS BIGINT) AS "offset",
        |       CAST(l AS BIGINT) AS length, has_inline
        |FROM rows ORDER BY key""".stripMargin,

    // coordinate re-derivation from the combine fixture's closed forms
    // (t2m = 10t + x over the concatenated global time 0..10, lat = 100x,
    // ragged-tail padding dropped): agreement proves source ordering,
    // chunk-key shifting, combined-shape synthesis AND the identical-var
    // passthrough end to end
    "combine_kerchunk_indexes" ->
      """WITH v AS (
        |  SELECT 't2m' AS variable, 'time.x' AS dims,
        |         CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(t * 10 + x AS DOUBLE) AS value
        |  FROM range(11) a(t) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'time', 'time', CAST(t AS VARCHAR), CAST(t AS DOUBLE) FROM range(11) t(t)
        |  UNION ALL
        |  SELECT 'lat', 'x', CAST(x AS VARCHAR), CAST(100 * x AS DOUBLE) FROM range(3) t(x))
        |SELECT variable, dims, coord_key, value FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // coordinate re-derivation from the fixture's value formulas
    // (0.5t - 2 exact in f8, 10y + x, 6j + 7): agreement proves record-file
    // row addressing, inline/range/whole-file materialization, padding drop
    // AND the missing-chunk drop end to end through openAsset('reference')
    "load_kerchunk_parquet" ->
      """WITH vals AS (
        |  SELECT 'flag' AS variable, 'y.x' AS dims,
        |         CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(y * 10 + x AS DOUBLE) AS value
        |  FROM range(2) a(y) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'note', 'dim0', CAST(j AS VARCHAR), CAST(6 * j + 7 AS DOUBLE) FROM range(2) t(j)
        |  UNION ALL
        |  SELECT 'temp', 't', CAST(g AS VARCHAR), CAST(g AS DOUBLE) * 0.5 - 2.0 FROM range(10) t(g))
        |SELECT variable, dims, coord_key, value FROM vals
        |ORDER BY variable, coord_key""".stripMargin,


    // coordinate re-derivation from the fixture's value formulas (t*10+x,
    // i*i) — agreement proves store enumeration, chunk-grid math, and
    // edge-padding drop end to end through the openAsset dispatch
    "load_zarr_store" ->
      """WITH g AS (
        |  SELECT 't2m' AS variable, 't.x' AS dims,
        |         CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(t * 10 + x AS DOUBLE) AS value
        |  FROM range(2) a(t) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'step', 'dim0', CAST(i AS VARCHAR), CAST(i * i AS DOUBLE)
        |  FROM range(4) t(i))
        |SELECT variable, dims, coord_key, value FROM g
        |ORDER BY variable, coord_key""".stripMargin,

    // coordinate re-derivation from the v3 fixture's value formulas
    // (t*100+x over the gzip int32 grid, i*0.5-1 over the raw f8 vector,
    // i*2.5+1 over the zstd f4 vector — all exactly representable in f4) —
    // agreement proves v3 metadata translation, both chunk-key encodings,
    // and the gzip AND zstd codec chains end to end
    "load_zarr_v3" ->
      """WITH g AS (
        |  SELECT 'wind' AS variable, 't.x' AS dims,
        |         CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(t * 100 + x AS DOUBLE) AS value
        |  FROM range(2) a(t) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'lev', 'dim0', CAST(i AS VARCHAR), CAST(i AS DOUBLE) * 0.5 - 1.0
        |  FROM range(5) t(i)
        |  UNION ALL
        |  SELECT 'rain', 'r', CAST(i AS VARCHAR), CAST(i AS DOUBLE) * 2.5 + 1.0
        |  FROM range(4) t(i))
        |SELECT variable, dims, coord_key, value FROM g
        |ORDER BY variable, coord_key""".stripMargin,

    "load_zarr_transpose" ->
      """WITH g AS (
        |  SELECT 'fm' AS variable, 'dim0.dim1' AS dims,
        |         CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR) AS coord_key,
        |         CAST(r * 10 + c AS DOUBLE) AS value
        |  FROM range(2) a(r) CROSS JOIN range(3) b(c)
        |  UNION ALL
        |  SELECT 'mat', 't.x', CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR),
        |         CAST(t * 100 + x AS DOUBLE)
        |  FROM range(2) u(t) CROSS JOIN range(3) v(x))
        |SELECT variable, dims, coord_key, value FROM g
        |ORDER BY variable, coord_key""".stripMargin,

    // the full 5x6 grid minus the deliberately-omitted inner chunk's 2x2
    // footprint (rows 2-3 x cols 2-3); padded/edge-missing cells never
    // existed in the array so the range join covers them by construction
    "load_zarr_nested" ->
      """SELECT 'v' AS variable, 'y.x' AS dims,
        |       CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |       CAST(y * 10 + x AS DOUBLE) AS value
        |FROM range(4) a(y) CROSS JOIN range(8) b(x)
        |WHERE NOT (y BETWEEN 2 AND 3 AND x BETWEEN 6 AND 7)
        |ORDER BY variable, coord_key""".stripMargin,

    "load_zarr_sharded" ->
      """SELECT 'temp' AS variable, 'y.x' AS dims,
        |       CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |       CAST(y * 10 + x AS DOUBLE) AS value
        |FROM range(5) a(y) CROSS JOIN range(6) b(x)
        |WHERE NOT (y BETWEEN 2 AND 3 AND x BETWEEN 2 AND 3)
        |ORDER BY variable, coord_key""".stripMargin,

    // values pinned from an INDEPENDENT python struct-level parse of the
    // reference's own CMIP5 classic-netCDF sample (the only CDF-format file
    // in its test data): header walk + big-endian struct.unpack, no shared
    // code with the Scala reader. 87 rows = every numeric element of every
    // variable, with dimension labels and global coordinates.
    "load_netcdf3" ->
      """SELECT variable, dims, coord_key, CAST(value AS DOUBLE) AS value FROM (VALUES
        |('time','time','0','-45.0'),
        |('time','time','1','-15.0'),
        |('time_bnds','time.bnds','0.0','-30.0'),
        |('time_bnds','time.bnds','0.1','-60.0'),
        |('time_bnds','time.bnds','1.0','-60.0'),
        |('time_bnds','time.bnds','1.1','-90.0'),
        |('lat','lat','0','-90.0'),
        |('lat','lat','1','-88.75'),
        |('lat','lat','2','-87.5'),
        |('lat','lat','3','-86.25'),
        |('lat','lat','4','-85.0'),
        |('lat_bnds','lat.bnds','0.0','-90.625'),
        |('lat_bnds','lat.bnds','0.1','-89.375'),
        |('lat_bnds','lat.bnds','1.0','-89.375'),
        |('lat_bnds','lat.bnds','1.1','-88.125'),
        |('lat_bnds','lat.bnds','2.0','-88.125'),
        |('lat_bnds','lat.bnds','2.1','-86.875'),
        |('lat_bnds','lat.bnds','3.0','-86.875'),
        |('lat_bnds','lat.bnds','3.1','-85.625'),
        |('lat_bnds','lat.bnds','4.0','-85.625'),
        |('lat_bnds','lat.bnds','4.1','-84.375'),
        |('lon','lon','0','0.0'),
        |('lon','lon','1','1.875'),
        |('lon','lon','2','3.75'),
        |('lon','lon','3','5.625'),
        |('lon','lon','4','7.5'),
        |('lon_bnds','lon.bnds','0.0','-0.9375'),
        |('lon_bnds','lon.bnds','0.1','0.9375'),
        |('lon_bnds','lon.bnds','1.0','0.9375'),
        |('lon_bnds','lon.bnds','1.1','2.8125'),
        |('lon_bnds','lon.bnds','2.0','2.8125'),
        |('lon_bnds','lon.bnds','2.1','4.6875'),
        |('lon_bnds','lon.bnds','3.0','4.6875'),
        |('lon_bnds','lon.bnds','3.1','6.5625'),
        |('lon_bnds','lon.bnds','4.0','6.5625'),
        |('lon_bnds','lon.bnds','4.1','8.4375'),
        |('height','height','0','2.0'),
        |('tasmax','time.lat.lon','0.0.0','255.84190368652344'),
        |('tasmax','time.lat.lon','0.0.1','255.84190368652344'),
        |('tasmax','time.lat.lon','0.0.2','255.84190368652344'),
        |('tasmax','time.lat.lon','0.0.3','255.84190368652344'),
        |('tasmax','time.lat.lon','0.0.4','255.84190368652344'),
        |('tasmax','time.lat.lon','0.1.0','256.9703063964844'),
        |('tasmax','time.lat.lon','0.1.1','256.9209899902344'),
        |('tasmax','time.lat.lon','0.1.2','256.88128662109375'),
        |('tasmax','time.lat.lon','0.1.3','256.8370056152344'),
        |('tasmax','time.lat.lon','0.1.4','256.78021240234375'),
        |('tasmax','time.lat.lon','0.2.0','258.2611999511719'),
        |('tasmax','time.lat.lon','0.2.1','258.1935119628906'),
        |('tasmax','time.lat.lon','0.2.2','258.12548828125'),
        |('tasmax','time.lat.lon','0.2.3','258.02679443359375'),
        |('tasmax','time.lat.lon','0.2.4','257.927490234375'),
        |('tasmax','time.lat.lon','0.3.0','258.8851013183594'),
        |('tasmax','time.lat.lon','0.3.1','258.7810974121094'),
        |('tasmax','time.lat.lon','0.3.2','258.67608642578125'),
        |('tasmax','time.lat.lon','0.3.3','258.5372009277344'),
        |('tasmax','time.lat.lon','0.3.4','258.40301513671875'),
        |('tasmax','time.lat.lon','0.4.0','259.6064147949219'),
        |('tasmax','time.lat.lon','0.4.1','259.47601318359375'),
        |('tasmax','time.lat.lon','0.4.2','259.3445129394531'),
        |('tasmax','time.lat.lon','0.4.3','259.2398986816406'),
        |('tasmax','time.lat.lon','0.4.4','259.17669677734375'),
        |('tasmax','time.lat.lon','1.0.0','243.99850463867188'),
        |('tasmax','time.lat.lon','1.0.1','243.99850463867188'),
        |('tasmax','time.lat.lon','1.0.2','243.99850463867188'),
        |('tasmax','time.lat.lon','1.0.3','243.99850463867188'),
        |('tasmax','time.lat.lon','1.0.4','243.99850463867188'),
        |('tasmax','time.lat.lon','1.1.0','245.44830322265625'),
        |('tasmax','time.lat.lon','1.1.1','245.39979553222656'),
        |('tasmax','time.lat.lon','1.1.2','245.3415069580078'),
        |('tasmax','time.lat.lon','1.1.3','245.29530334472656'),
        |('tasmax','time.lat.lon','1.1.4','245.2532958984375'),
        |('tasmax','time.lat.lon','1.2.0','245.65130615234375'),
        |('tasmax','time.lat.lon','1.2.1','245.53460693359375'),
        |('tasmax','time.lat.lon','1.2.2','245.43780517578125'),
        |('tasmax','time.lat.lon','1.2.3','245.33889770507812'),
        |('tasmax','time.lat.lon','1.2.4','245.24209594726562'),
        |('tasmax','time.lat.lon','1.3.0','245.50169372558594'),
        |('tasmax','time.lat.lon','1.3.1','245.3677978515625'),
        |('tasmax','time.lat.lon','1.3.2','245.22950744628906'),
        |('tasmax','time.lat.lon','1.3.3','245.091796875'),
        |('tasmax','time.lat.lon','1.3.4','244.94459533691406'),
        |('tasmax','time.lat.lon','1.4.0','244.9346923828125'),
        |('tasmax','time.lat.lon','1.4.1','244.65750122070312'),
        |('tasmax','time.lat.lon','1.4.2','244.4409942626953'),
        |('tasmax','time.lat.lon','1.4.3','244.19940185546875'),
        |('tasmax','time.lat.lon','1.4.4','243.98590087890625')
        |) AS t(variable, dims, coord_key, value)
        |ORDER BY variable, coord_key""".stripMargin,

    // flagship catalog->search->to_dataset_dict over the reference's own
    // cesm1-lens netcdf catalog: per-member count/min/max of every decoded
    // SHF value (members 2 and 9, 1032 months x 2x2 grid incl. the 1032
    // land-cell _FillValues), pinned by the independent python parse
    // (scripts/h5survey.py decode_var over the same two files).
    "load_catalog_netcdf" ->
      """SELECT member_id, n_values, CAST(CAST(v_min AS VARCHAR) AS DOUBLE) AS v_min,
        |       CAST(CAST(v_max AS VARCHAR) AS DOUBLE) AS v_max FROM (VALUES
        |('2', CAST(4128 AS BIGINT), CAST('-215.0996856689453' AS DOUBLE), CAST('9.969209968386869e+36' AS DOUBLE)),
        |('9', CAST(4128 AS BIGINT), CAST('-201.44403076171875' AS DOUBLE), CAST('9.969209968386869e+36' AS DOUBLE))
        |) AS t(member_id, n_values, v_min, v_max)
        |ORDER BY member_id""".stripMargin,

    // CF twin of the flagship flow: masked stats + noleap calendar span.
    // Literals derived independently by scripts/h5survey.py (pure-python
    // HDF5 decode of the same .nc bytes) + cf_check.py fixed_cal_date:
    // 3096 kept of 4128 (1032 land cells = _FillValue -> null per member),
    // masked max is the true ocean max (the raw-value oracle above shows
    // the unmasked max was the fill itself), and the time axis
    // (700831..732190 days since 0000-01-01, noleap) spans 1920-02-01 to
    // 2006-01-01.
    "load_catalog_netcdf_cf" ->
      """SELECT member_id, n_raw, n_kept, CAST(CAST(v_min AS VARCHAR) AS DOUBLE) AS v_min,
        |       CAST(CAST(v_max AS VARCHAR) AS DOUBLE) AS v_max, t_min, t_max FROM (VALUES
        |(CAST(2 AS BIGINT), CAST(4128 AS BIGINT), CAST(3096 AS BIGINT),
        | CAST('-215.0996856689453' AS DOUBLE), CAST('198.60850524902344' AS DOUBLE),
        | '1920-02-01 00:00:00', '2006-01-01 00:00:00'),
        |(CAST(9 AS BIGINT), CAST(4128 AS BIGINT), CAST(3096 AS BIGINT),
        | CAST('-201.44403076171875' AS DOUBLE), CAST('188.3180694580078' AS DOUBLE),
        | '1920-02-01 00:00:00', '2006-01-01 00:00:00')
        |) AS t(member_id, n_raw, n_kept, v_min, v_max, t_min, t_max)
        |ORDER BY member_id""".stripMargin,

    // reference's own CESM-LE netCDF-4 (HDF5) sample: values pinned by an
    // independent python struct/zlib parse of the same container (byte
    // shuffle + deflate inverted by hand), no shared code with the Scala
    // reader. 73 rows = every element of five variables covering f8/f4/i4
    // dtypes, chunked+filtered and contiguous layouts, and a scalar.
    // per-(member, variable) stats over the DAP2-served arrays, recomputed
    // from the same nation/region parquet; member is the join_new-stamped
    // string coordinate
    "load_catalog_opendap" ->
      """WITH m AS (SELECT 1 AS member UNION ALL SELECT 2),
        |vals AS (
        |  SELECT 'n_nationkey' AS variable, CAST(n_nationkey AS DOUBLE) AS value FROM nation
        |  UNION ALL SELECT 'n_regionkey', CAST(n_regionkey AS DOUBLE) FROM nation
        |  UNION ALL SELECT 'flag', CAST(n_nationkey % 3 AS DOUBLE) FROM nation
        |  UNION ALL SELECT 'r_regionkey', CAST(r_regionkey AS DOUBLE) FROM region
        |  UNION ALL SELECT 'nation', CAST(n_nationkey AS DOUBLE) FROM nation
        |  UNION ALL SELECT 'region', CAST(r_regionkey AS DOUBLE) FROM region
        |  UNION ALL SELECT 'key_sum', CAST(n_nationkey + r_regionkey AS DOUBLE)
        |    FROM nation CROSS JOIN region
        |)
        |SELECT CAST(member AS VARCHAR) AS member, variable,
        |       CAST(COUNT(*) AS BIGINT) AS n_values,
        |       MIN(value) AS v_min, MAX(value) AS v_max
        |FROM m CROSS JOIN vals
        |GROUP BY 1, 2 ORDER BY member, variable""".stripMargin,

    // every value recomputed from the same nation/region parquet the
    // fixture server encodes — the wire (XDR counts, Int16 promotion, Byte
    // packing, IEEE big-endian) must be perfectly transparent
    // the sink round trip re-derives from the same parquet the tidy plane
    // was built from — coord = rank-1 in key order on each axis
    "save_zarr_roundtrip" ->
      """WITH nk AS (SELECT n_nationkey AS k, n_regionkey AS rgk, n_name,
        |              ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS i FROM nation),
        |     rk AS (SELECT r_regionkey AS rr, r_name,
        |              ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS j FROM region)
        |SELECT variable, dims, coord_key, value, label FROM (
        |  SELECT 'n_key' AS variable, 'nation' AS dims,
        |         CAST(i AS VARCHAR) AS coord_key, CAST(k AS DOUBLE) AS value,
        |         CAST(NULL AS VARCHAR) AS label
        |  FROM nk
        |  UNION ALL
        |  SELECT 'key_sum', 'nation.region',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(k + rr AS DOUBLE), NULL
        |  FROM nk, rk
        |  UNION ALL
        |  SELECT 'n_region', 'nation', CAST(i AS VARCHAR), CAST(rgk AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_big', 'nation', CAST(i AS VARCHAR),
        |         CAST(10000000000 + k AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_name', 'nation', CAST(i AS VARCHAR), CAST(NULL AS DOUBLE), n_name FROM nk
        |  UNION ALL
        |  SELECT 'r_label', 'region', CAST(j AS VARCHAR), CAST(NULL AS DOUBLE), r_name FROM rk
        |  UNION ALL
        |  SELECT 'n_f4', 'nation', CAST(i AS VARCHAR), CAST(k AS DOUBLE) * 0.5, NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_i2', 'nation', CAST(i AS VARCHAR), CAST(k * 100 - 500 AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_i1', 'nation', CAST(i AS VARCHAR), CAST(k * 10 - 120 AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_u1', 'nation', CAST(i AS VARCHAR), CAST(k * 10 AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_u2', 'nation', CAST(i AS VARCHAR), CAST(k * 2000 AS DOUBLE), NULL FROM nk
        |  UNION ALL
        |  SELECT 'n_u4', 'nation', CAST(i AS VARCHAR), CAST(4000000000 + k AS DOUBLE), NULL FROM nk)
        |ORDER BY variable, coord_key""".stripMargin,

    // the filtered store's cells re-derive from nation; the filter chain
    // must be invisible to every decoded value
    "save_zarr_filters_roundtrip" ->
      """WITH nk AS (SELECT n_nationkey AS k,
        |              ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS i FROM nation)
        |SELECT variable, dims, coord_key, value, label FROM (
        |  SELECT 't_mono' AS variable, 'nation' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(1000000 + k * 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM nk
        |  UNION ALL
        |  SELECT 't_wide', 'nation', CAST(i AS VARCHAR),
        |         CAST(k * 1000 - 9000 AS DOUBLE), NULL FROM nk)
        |ORDER BY variable, coord_key""".stripMargin,

    // closed-form regeneration of the Sequence fixture: per-member tidy
    // rows over the record index; station's lengths (2..5) exercised every
    // XDR pad width on the wire, depth goes negative at i = 0
    "load_opendap_seq" ->
      """WITH v AS (
        |  SELECT 'cast.depth' AS variable, 'cast' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(7 * i - 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM range(6) t(i)
        |  UNION ALL
        |  SELECT 'cast.temp', 'cast', CAST(i AS VARCHAR),
        |         0.25 + 2.5 * CAST(i AS DOUBLE), NULL FROM range(6) t(i)
        |  UNION ALL
        |  SELECT 'cast.station', 'cast', CAST(i AS VARCHAR), CAST(NULL AS DOUBLE),
        |         repeat('x', CAST(i % 4 AS INT) + 1) || CAST(i AS VARCHAR) FROM range(6) t(i))
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // the projected surface: load_opendap_seq's rows minus the member the
    // constraint never requested
    "load_opendap_seq_proj" ->
      """WITH v AS (
        |  SELECT 'cast.depth' AS variable, 'cast' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(7 * i - 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM range(6) t(i)
        |  UNION ALL
        |  SELECT 'cast.station', 'cast', CAST(i AS VARCHAR), CAST(NULL AS DOUBLE),
        |         repeat('x', CAST(i % 4 AS INT) + 1) || CAST(i AS VARCHAR) FROM range(6) t(i))
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // the selected surface: the server applies both relational predicates
    // over the closed-form records, then numbers the survivors 0..n-1 —
    // row_number() over the kept range() rows IS that renumbering
    "load_opendap_seq_sel" ->
      """WITH k AS (
        |  SELECT i, CAST(row_number() OVER (ORDER BY i) - 1 AS VARCHAR) AS r
        |  FROM range(6) t(i)
        |  WHERE 7 * i - 3 > 10 AND 0.25 + 2.5 * CAST(i AS DOUBLE) < 11),
        |v AS (
        |  SELECT 'cast.depth' AS variable, 'cast' AS dims, r AS coord_key,
        |         CAST(7 * i - 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM k
        |  UNION ALL
        |  SELECT 'cast.temp', 'cast', r, 0.25 + 2.5 * CAST(i AS DOUBLE), NULL FROM k)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // closed-form regeneration of BOTH levels of the nested-Sequence
    // fixture: outer rows from range(4), inner rows from the cross join
    // gated on j < i % 3 (record 0 contributes none), dims/coord_key as
    // the dot-joined dims/coords vectors
    // the phrase-adjacency truth WITHOUT the top-k: every doc containing
    // each phrase, tf by direct string adjacency (the search_bm25_phrase
    // CTE shapes; scores stay out of the hash surface)
    "search_bm25_phrase_scored" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'hash' AND t[i+1] = 'join')) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'scan')) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) - 1), i -> t[i] = 'the' AND t[i+1] = 'batch' AND t[i+2] = 'batch')) AS BIGINT) AS tf_bb
        |  FROM toks)
        |SELECT query_id, doc_id, dl, tf FROM (
        |  SELECT 'p_hash_join' AS query_id, doc_id, dl, tf_hj AS tf FROM occ WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'p_table_scan', doc_id, dl, tf_ts FROM occ WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'p_batch2', doc_id, dl, tf_bb FROM occ WHERE tf_bb > 0)
        |ORDER BY query_id, doc_id""".stripMargin,

    // struct-wrapped sequence: closed forms with post-filter renumbering
    // (d > 1 drops record 0), all under the dotted obs.cast name
    // r16 array members: the same closed forms under the station > 100
    // selection (record 0 dropped, records renumbered r = i − 1); array
    // element coords regenerate from range() cross joins, dims carry the
    // member-qualified declared dim names
    "load_opendap_seq_array" ->
      """WITH o AS (SELECT i, i - 1 AS r FROM range(4) t(i) WHERE 100 + 7 * i > 100),
        |sub AS (SELECT i, r, j FROM o CROSS JOIN range(3) u(j) WHERE j < i % 3),
        |v AS (
        |  SELECT 'arr.station' AS variable, 'arr' AS dims, CAST(r AS VARCHAR) AS coord_key,
        |         CAST(100 + 7 * i AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'arr.tvec', 'arr.arr.tvec.z',
        |         CAST(r AS VARCHAR) || '.' || CAST(z AS VARCHAR),
        |         CAST(10 * i + z AS DOUBLE) + 0.5, NULL
        |  FROM o CROSS JOIN range(3) w(z)
        |  UNION ALL
        |  SELECT 'arr.flags', 'arr.arr.flags.f',
        |         CAST(r AS VARCHAR) || '.' || CAST(f AS VARCHAR),
        |         CAST((i + f) % 7 AS DOUBLE), NULL
        |  FROM o CROSS JOIN range(5) w(f)
        |  UNION ALL
        |  SELECT 'arr.tags', 'arr.arr.tags.g',
        |         CAST(r AS VARCHAR) || '.' || CAST(g AS VARCHAR),
        |         CAST(NULL AS DOUBLE), repeat('t', (i + g) % 3 + 1) || CAST(i AS VARCHAR)
        |  FROM o CROSS JOIN range(2) w(g)
        |  UNION ALL
        |  SELECT 'arr.sub.d', 'arr.arr.sub',
        |         CAST(r AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(5 * i + j AS DOUBLE), NULL FROM sub
        |  UNION ALL
        |  SELECT 'arr.sub.w', 'arr.arr.sub.arr.sub.w.k',
        |         CAST(r AS VARCHAR) || '.' || CAST(j AS VARCHAR) || '.' || CAST(k AS VARCHAR),
        |         1.5 * CAST(i AS DOUBLE) + 0.25 * CAST(j AS DOUBLE) + CAST(k AS DOUBLE),
        |         NULL
        |  FROM sub CROSS JOIN range(2) w(k))
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    "load_opendap_seq_in_struct" ->
      """WITH o AS (
        |  SELECT i, row_number() OVER (ORDER BY i) - 1 AS oi
        |  FROM range(5) t(i) WHERE 3 * i + 1 > 1),
        |v AS (
        |  SELECT 'obs.cast.d' AS variable, 'obs.cast' AS dims,
        |         CAST(oi AS VARCHAR) AS coord_key,
        |         CAST(3 * i + 1 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'obs.cast.v', 'obs.cast', CAST(oi AS VARCHAR),
        |         1.5 * CAST(i AS DOUBLE) - 2.0, NULL FROM o
        |  UNION ALL
        |  SELECT 'obs.cast.w', 'obs.cast', CAST(oi AS VARCHAR),
        |         CAST(NULL AS DOUBLE),
        |         repeat('s', i % 3 + 1) || CAST(i AS VARCHAR) FROM o)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // three-level closed forms regenerated from range() cross joins; the
    // dims string is the '.'-joined chain of enclosing sequence paths
    "load_opendap_seq_deep" ->
      """WITH o AS (SELECT i FROM range(4) t(i)),
        |p AS (SELECT i, j FROM range(4) t(i) CROSS JOIN range(3) u(j) WHERE j < i % 3),
        |sm AS (SELECT i, j, k FROM p CROSS JOIN range(3) w(k) WHERE k < (i + j) % 3),
        |v AS (
        |  SELECT 'deep.station' AS variable, 'deep' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(100 + 7 * i AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'deep.lat', 'deep', CAST(i AS VARCHAR),
        |         0.5 * CAST(i AS DOUBLE) - 1.0, NULL FROM o
        |  UNION ALL
        |  SELECT 'deep.profile.depth', 'deep.deep.profile',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(10 * i + j AS DOUBLE), NULL FROM p
        |  UNION ALL
        |  SELECT 'deep.profile.o2', 'deep.deep.profile',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         2.5 + 0.5 * CAST(i + j AS DOUBLE), NULL FROM p
        |  UNION ALL
        |  SELECT 'deep.profile.samples.val', 'deep.deep.profile.deep.profile.samples',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR) || '.' || CAST(k AS VARCHAR),
        |         CAST(100 * i + 10 * j + k AS DOUBLE) + 0.25, NULL FROM sm
        |  UNION ALL
        |  SELECT 'deep.profile.samples.tag', 'deep.deep.profile.deep.profile.samples',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR) || '.' || CAST(k AS VARCHAR),
        |         CAST(NULL AS DOUBLE),
        |         repeat('g', (i + j + k) % 4 + 1) || CAST(i AS VARCHAR) || CAST(j AS VARCHAR) || CAST(k AS VARCHAR)
        |  FROM sm)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // the same closed forms filtered at every level and RENUMBERED
    // post-filter per level (the server numbers records after selection)
    "load_opendap_seq_deep_sel" ->
      """WITH o AS (
        |  SELECT i, row_number() OVER (ORDER BY i) - 1 AS oi
        |  FROM range(4) t(i) WHERE 100 + 7 * i > 100),
        |p AS (
        |  SELECT o.i, u.j, o.oi,
        |         row_number() OVER (PARTITION BY o.i ORDER BY u.j) - 1 AS nj
        |  FROM o CROSS JOIN range(3) u(j)
        |  WHERE u.j < o.i % 3 AND 2.5 + 0.5 * (o.i + u.j) >= 3.5),
        |sm AS (
        |  SELECT p.i, p.j, w.k, p.oi, p.nj,
        |         row_number() OVER (PARTITION BY p.i, p.j ORDER BY w.k) - 1 AS nk
        |  FROM p CROSS JOIN range(3) w(k)
        |  WHERE w.k < (p.i + p.j) % 3 AND 100 * p.i + 10 * p.j + w.k + 0.25 < 201.0),
        |v AS (
        |  SELECT 'deep.station' AS variable, 'deep' AS dims, CAST(oi AS VARCHAR) AS coord_key,
        |         CAST(100 + 7 * i AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'deep.lat', 'deep', CAST(oi AS VARCHAR),
        |         0.5 * CAST(i AS DOUBLE) - 1.0, NULL FROM o
        |  UNION ALL
        |  SELECT 'deep.profile.depth', 'deep.deep.profile',
        |         CAST(oi AS VARCHAR) || '.' || CAST(nj AS VARCHAR),
        |         CAST(10 * i + j AS DOUBLE), NULL FROM p
        |  UNION ALL
        |  SELECT 'deep.profile.o2', 'deep.deep.profile',
        |         CAST(oi AS VARCHAR) || '.' || CAST(nj AS VARCHAR),
        |         2.5 + 0.5 * CAST(i + j AS DOUBLE), NULL FROM p
        |  UNION ALL
        |  SELECT 'deep.profile.samples.val', 'deep.deep.profile.deep.profile.samples',
        |         CAST(oi AS VARCHAR) || '.' || CAST(nj AS VARCHAR) || '.' || CAST(nk AS VARCHAR),
        |         CAST(100 * i + 10 * j + k AS DOUBLE) + 0.25, NULL FROM sm
        |  UNION ALL
        |  SELECT 'deep.profile.samples.tag', 'deep.deep.profile.deep.profile.samples',
        |         CAST(oi AS VARCHAR) || '.' || CAST(nj AS VARCHAR) || '.' || CAST(nk AS VARCHAR),
        |         CAST(NULL AS DOUBLE),
        |         repeat('g', (i + j + k) % 4 + 1) || CAST(i AS VARCHAR) || CAST(j AS VARCHAR) || CAST(k AS VARCHAR)
        |  FROM sm)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    "load_opendap_seq_nested" ->
      """WITH o AS (SELECT i FROM range(4) t(i)),
        |n AS (SELECT i, j FROM range(4) t(i) CROSS JOIN range(3) u(j) WHERE j < i % 3),
        |v AS (
        |  SELECT 'prof.station' AS variable, 'prof' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(100 + 7 * i AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'prof.lat', 'prof', CAST(i AS VARCHAR),
        |         0.5 * CAST(i AS DOUBLE) - 1.0, NULL FROM o
        |  UNION ALL
        |  SELECT 'prof.profile.depth', 'prof.prof.profile',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(10 * i + j AS DOUBLE), NULL FROM n
        |  UNION ALL
        |  SELECT 'prof.profile.o2', 'prof.prof.profile',
        |         CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         2.5 + 0.5 * CAST(i + j AS DOUBLE), NULL FROM n)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // both levels of the nested fixture under both selection levels:
    // outer keeps station>100 (i>=1, renumbered r), inner keeps
    // o2 = 2.5+0.5(i+j) >= 4.0 within each kept outer (renumbered jr);
    // i=3 keeps ZERO inner records (count 0) — present on the outer
    // plane, absent from the inner one
    "load_opendap_seq_nested_sel" ->
      """WITH o AS (
        |  SELECT i, CAST(row_number() OVER (ORDER BY i) - 1 AS VARCHAR) AS r
        |  FROM range(4) t(i) WHERE 100 + 7 * i > 100),
        |n AS (
        |  SELECT o.i, o.r, j,
        |         CAST(row_number() OVER (PARTITION BY o.i ORDER BY j) - 1 AS VARCHAR) AS jr
        |  FROM o CROSS JOIN range(3) u(j)
        |  WHERE j < o.i % 3 AND 2.5 + 0.5 * CAST(o.i + j AS DOUBLE) >= 4.0),
        |v AS (
        |  SELECT 'prof.station' AS variable, 'prof' AS dims, r AS coord_key,
        |         CAST(100 + 7 * i AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM o
        |  UNION ALL
        |  SELECT 'prof.lat', 'prof', r, 0.5 * CAST(i AS DOUBLE) - 1.0, NULL FROM o
        |  UNION ALL
        |  SELECT 'prof.profile.depth', 'prof.prof.profile', r || '.' || jr,
        |         CAST(10 * i + j AS DOUBLE), NULL FROM n
        |  UNION ALL
        |  SELECT 'prof.profile.o2', 'prof.prof.profile', r || '.' || jr,
        |         2.5 + 0.5 * CAST(i + j AS DOUBLE), NULL FROM n)
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // closed-form regeneration of the Structure fixture: the dotted
    // variable names ARE the expected surface (pydap flattening), and
    // every value is a range() formula
    "load_opendap_struct" ->
      """WITH v AS (
        |  SELECT 'obs.depth' AS variable, 'd' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(7 * i - 3 AS DOUBLE) AS value FROM range(4) t(i)
        |  UNION ALL
        |  SELECT 'obs.sst', 'd.r', CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(10 * i AS DOUBLE) + 0.25 * CAST(j AS DOUBLE)
        |  FROM range(4) a(i) CROSS JOIN range(5) b(j)
        |  UNION ALL
        |  SELECT 'sd', 'd', CAST(i AS VARCHAR), CAST(2 * i AS DOUBLE) FROM range(4) t(i)
        |  UNION ALL
        |  SELECT 'sr', 'r', CAST(j AS VARCHAR), CAST(3 * j AS DOUBLE) FROM range(5) t(j))
        |SELECT variable, dims, coord_key, value FROM v
        |ORDER BY variable, coord_key""".stripMargin,

    // the decoded String labels re-derive from the same region parquet the
    // fixture server reads; coord = position in r_regionkey order
    "load_opendap_labels" ->
      """SELECT 'r_name' AS variable, 'region' AS dims,
        |       CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS VARCHAR) AS coord_key,
        |       r_name AS label
        |FROM region ORDER BY variable, coord_key""".stripMargin,

    "load_opendap" ->
      """WITH nk AS (SELECT n_nationkey, n_regionkey,
        |              ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS i FROM nation),
        |     rk AS (SELECT r_regionkey,
        |              ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS j FROM region)
        |SELECT variable, dims, coord_key, value FROM (
        |  SELECT 'n_nationkey' AS variable, 'nation' AS dims,
        |         CAST(i AS VARCHAR) AS coord_key, CAST(n_nationkey AS DOUBLE) AS value FROM nk
        |  UNION ALL
        |  SELECT 'n_regionkey', 'nation', CAST(i AS VARCHAR), CAST(n_regionkey AS DOUBLE) FROM nk
        |  UNION ALL
        |  SELECT 'flag', 'nation', CAST(i AS VARCHAR), CAST(n_nationkey % 3 AS DOUBLE) FROM nk
        |  UNION ALL
        |  SELECT 'r_regionkey', 'region', CAST(j AS VARCHAR), CAST(r_regionkey AS DOUBLE) FROM rk
        |  UNION ALL
        |  SELECT 'nation', 'nation', CAST(i AS VARCHAR), CAST(n_nationkey AS DOUBLE) FROM nk
        |  UNION ALL
        |  SELECT 'region', 'region', CAST(j AS VARCHAR), CAST(r_regionkey AS DOUBLE) FROM rk
        |  UNION ALL
        |  SELECT 'key_sum', 'nation.region', CAST(i AS VARCHAR) || '.' || CAST(j AS VARCHAR),
        |         CAST(n_nationkey + r_regionkey AS DOUBLE) FROM nk CROSS JOIN rk
        |) ORDER BY variable, coord_key""".stripMargin,

    // every value in the v4 fixture is a closed-form function of its
    // coordinates (see ensureHdf5V4Fixture's scaladoc) — the oracle
    // regenerates them from range() instead of trusting any parser
    "load_netcdf4_v4" ->
      """WITH ea AS (
        |  SELECT 'ea' AS variable, CAST(i AS VARCHAR) AS coord_key, CAST(i AS DOUBLE) AS value
        |  FROM range(0, 18) r(i)),
        |fap AS (
        |  SELECT 'fap' AS variable, CAST(i AS VARCHAR) AS coord_key, CAST(i AS DOUBLE) AS value
        |  FROM range(0, 10) r(i) WHERE i NOT IN (4, 5, 6, 7)),
        |bt AS (
        |  SELECT 'bt' AS variable,
        |         CAST(a.r AS VARCHAR) || '.' || CAST(b.c AS VARCHAR) AS coord_key,
        |         CAST(((a.r // 2) * 2 + (b.c // 2)) * 100 + (a.r % 2) * 2 + (b.c % 2) AS DOUBLE) AS value
        |  FROM range(0, 4) a(r), range(0, 4) b(c))
        |SELECT * FROM (SELECT * FROM ea UNION ALL SELECT * FROM fap UNION ALL SELECT * FROM bt)
        |ORDER BY variable, coord_key""".stripMargin,

    // CF decode oracle: DuckDB re-applies mask → unpack → time arithmetic
    // to the fixture's closed-form RAW values (harness.Nc3CfFixture) —
    // double casts everywhere so both engines run identical IEEE ops
    "load_netcdf_cf" ->
      """WITH tv AS (
        |  SELECT 'time' AS variable, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(v AS DOUBLE) AS value,
        |         strftime(TIMESTAMP '1850-01-16 12:00:00' + v * INTERVAL 1 DAY,
        |                  '%Y-%m-%d %H:%M:%S') AS time_str,
        |         strftime(TIMESTAMP '1850-01-16 12:00:00' + v * INTERVAL 1 DAY,
        |                  '%Y-%m-%d %H:%M:%S') AS time_instant
        |  FROM (VALUES (0, 0), (1, 31), (2, 59), (3, 90)) t(i, v)),
        |lv AS (
        |  SELECT 'lat', CAST(i AS VARCHAR), CAST(v AS DOUBLE), CAST(NULL AS VARCHAR),
        |         CAST(NULL AS VARCHAR)
        |  FROM (VALUES (0, -30.0), (1, 0.0), (2, 30.0)) t(i, v)),
        |tas AS (
        |  SELECT 'tas', CAST(t AS VARCHAR) || '.' || CAST(l AS VARCHAR),
        |         CASE WHEN raw = -999 THEN NULL
        |              ELSE CAST(raw AS DOUBLE) * CAST(0.01 AS DOUBLE) + CAST(250.0 AS DOUBLE) END,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM (SELECT t, l, CASE WHEN t = 1 AND l = 1 THEN -999 ELSE t*100 + l*10 - 150 END AS raw
        |        FROM range(0, 4) a(t), range(0, 3) b(l))),
        |rh AS (
        |  SELECT 'rh', CAST(t AS VARCHAR) || '.' || CAST(l AS VARCHAR),
        |         CASE WHEN t = 2 AND l = 0 THEN NULL
        |              ELSE CAST(t AS DOUBLE) + CAST(l AS DOUBLE) * CAST(0.5 AS DOUBLE) END,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM range(0, 4) a(t), range(0, 3) b(l)),
        |noleap_months(m, cum, len) AS (VALUES (1,0,31),(2,31,28),(3,59,31),(4,90,30),
        |  (5,120,31),(6,151,30),(7,181,31),(8,212,31),(9,243,30),(10,273,31),
        |  (11,304,30),(12,334,31)),
        |tnl AS (
        |  SELECT 'tnl', CAST(r.i AS VARCHAR), CAST(r.v AS DOUBLE),
        |         printf('%04d-%02d-%02d 00:00:00',
        |                (4*365 + r.v) // 365, mm.m, (4*365 + r.v) % 365 - mm.cum + 1),
        |         CAST(NULL AS VARCHAR)
        |  FROM (VALUES (0, 58), (1, 59), (2, 60), (3, 364)) r(i, v)
        |  JOIN noleap_months mm
        |    ON (4*365 + r.v) % 365 >= mm.cum AND (4*365 + r.v) % 365 < mm.cum + mm.len),
        |t360 AS (
        |  SELECT 't360', CAST(i AS VARCHAR), CAST(v AS DOUBLE),
        |         printf('%04d-%02d-%02d 00:00:00',
        |                (360 + v) // 360, (360 + v) % 360 // 30 + 1, (360 + v) % 360 % 30 + 1),
        |         CAST(NULL AS VARCHAR)
        |  FROM (VALUES (0, 29), (1, 30), (2, 359), (3, 719)) t(i, v)),
        |pb AS (
        |  -- _Unsigned byte: reinterpret raw AND fill (< 0 -> +256) before
        |  -- masking, then unpack; fill byte -106 reinterprets to 150
        |  SELECT 'pb', CAST(i AS VARCHAR),
        |         CASE WHEN (CASE WHEN raw < 0 THEN raw + 256 ELSE raw END)
        |                 = (CASE WHEN -106 < 0 THEN -106 + 256 ELSE -106 END) THEN NULL
        |              ELSE CAST((CASE WHEN raw < 0 THEN raw + 256 ELSE raw END) AS DOUBLE)
        |                   * CAST(2.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) END,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM (VALUES (0, -1), (1, 100), (2, -106)) t(i, raw)),
        |jul_months(m, cuml, lenl, cumn, lenn) AS (VALUES
        |  (1,0,31,0,31),(2,31,29,31,28),(3,60,31,59,31),(4,91,30,90,30),
        |  (5,121,31,120,31),(6,152,30,151,30),(7,182,31,181,31),(8,213,31,212,31),
        |  (9,244,30,243,30),(10,274,31,273,31),(11,305,30,304,30),(12,335,31,334,31)),
        |tjul AS (
        |  -- julian: leap every 4th year, no century exception; 1461-day
        |  -- cycles from year 0, in-cycle year 0 leap (1900-02-29 exists).
        |  -- time_instant (r10 fast path): julian 1900-01-01 is proleptic-
        |  -- Gregorian 1900-01-13 (JDN 2415033), offsets add uniformly
        |  SELECT 'tjul', CAST(b.i AS VARCHAR), CAST(b.v AS DOUBLE),
        |         printf('%04d-%02d-%02d 00:00:00', b.y, mm.m,
        |                b.doy - (CASE WHEN b.leap THEN mm.cuml ELSE mm.cumn END) + 1),
        |         strftime(TIMESTAMP '1900-01-13 00:00:00' + b.v * INTERVAL 1 DAY,
        |                  '%Y-%m-%d %H:%M:%S')
        |  FROM (
        |    SELECT i, v,
        |           (d // 1461) * 4 + CASE WHEN r < 366 THEN 0 ELSE (r - 366) // 365 + 1 END AS y,
        |           CASE WHEN r < 366 THEN r ELSE (r - 366) % 365 END AS doy,
        |           r < 366 AS leap
        |    FROM (SELECT i, v, 1900*365 + (1900+3)//4 + v AS d,
        |                 (1900*365 + (1900+3)//4 + v) % 1461 AS r
        |          FROM (VALUES (0, 58), (1, 59), (2, 60), (3, 1460)) t(i, v))) b
        |  JOIN jul_months mm
        |    ON (b.leap AND b.doy >= mm.cuml AND b.doy < mm.cuml + mm.lenl)
        |    OR (NOT b.leap AND b.doy >= mm.cumn AND b.doy < mm.cumn + mm.lenn))
        |SELECT * FROM (SELECT * FROM tv UNION ALL SELECT * FROM lv
        |               UNION ALL SELECT * FROM tas UNION ALL SELECT * FROM rh
        |               UNION ALL SELECT * FROM tnl UNION ALL SELECT * FROM t360
        |               UNION ALL SELECT * FROM pb UNION ALL SELECT * FROM tjul)
        |ORDER BY variable, coord_key""".stripMargin,

    "load_netcdf4" ->
      """SELECT variable, dims, coord_key, CAST(value AS DOUBLE) AS value FROM (VALUES
        |('TLAT','nlat.nlon','0.0','28.55677500703854'),
        |('TLAT','nlat.nlon','0.1','28.522155900490016'),
        |('TLAT','nlat.nlon','1.0','29.073360762850665'),
        |('TLAT','nlat.nlon','1.1','29.037387150190117'),
        |('TLONG','nlat.nlon','0.0','244.39384414171622'),
        |('TLONG','nlat.nlon','0.1','245.51644224725385'),
        |('TLONG','nlat.nlon','1.0','244.41505889366732'),
        |('TLONG','nlat.nlon','1.1','245.53748357686706'),
        |('KMT','nlat.nlon','0.0','41.0'),
        |('KMT','nlat.nlon','0.1','4.0'),
        |('KMT','nlat.nlon','1.0','41.0'),
        |('KMT','nlat.nlon','1.1','0.0'),
        |('dz','z_t','0','1000.0'),
        |('dz','z_t','1','1000.0'),
        |('dz','z_t','2','1000.0'),
        |('dz','z_t','3','1000.0'),
        |('dz','z_t','4','1000.0'),
        |('dz','z_t','5','1000.0'),
        |('dz','z_t','6','1000.0'),
        |('dz','z_t','7','1000.0'),
        |('dz','z_t','8','1000.0'),
        |('dz','z_t','9','1000.0'),
        |('dz','z_t','10','1000.0'),
        |('dz','z_t','11','1000.0'),
        |('dz','z_t','12','1000.0'),
        |('dz','z_t','13','1000.0'),
        |('dz','z_t','14','1000.0'),
        |('dz','z_t','15','1000.0'),
        |('dz','z_t','16','1019.6807861328125'),
        |('dz','z_t','17','1056.4483642578125'),
        |('dz','z_t','18','1105.9951171875'),
        |('dz','z_t','19','1167.8070068359375'),
        |('dz','z_t','20','1242.413330078125'),
        |('dz','z_t','21','1330.9677734375'),
        |('dz','z_t','22','1435.1409912109375'),
        |('dz','z_t','23','1557.1258544921875'),
        |('dz','z_t','24','1699.6795654296875'),
        |('dz','z_t','25','1866.21240234375'),
        |('dz','z_t','26','2060.90234375'),
        |('dz','z_t','27','2288.85205078125'),
        |('dz','z_t','28','2556.2470703125'),
        |('dz','z_t','29','2870.574951171875'),
        |('dz','z_t','30','3240.837158203125'),
        |('dz','z_t','31','3677.7724609375'),
        |('dz','z_t','32','4194.03076171875'),
        |('dz','z_t','33','4804.2236328125'),
        |('dz','z_t','34','5524.75439453125'),
        |('dz','z_t','35','6373.19189453125'),
        |('dz','z_t','36','7366.94482421875'),
        |('dz','z_t','37','8520.892578125'),
        |('dz','z_t','38','9843.658203125'),
        |('dz','z_t','39','11332.4658203125'),
        |('dz','z_t','40','12967.19921875'),
        |('dz','z_t','41','14705.34375'),
        |('dz','z_t','42','16480.708984375'),
        |('dz','z_t','43','18209.134765625'),
        |('dz','z_t','44','19802.234375'),
        |('dz','z_t','45','21185.95703125'),
        |('dz','z_t','46','22316.509765625'),
        |('dz','z_t','47','23186.494140625'),
        |('dz','z_t','48','23819.44921875'),
        |('dz','z_t','49','24257.216796875'),
        |('dz','z_t','50','24546.779296875'),
        |('dz','z_t','51','24731.013671875'),
        |('dz','z_t','52','24844.328125'),
        |('dz','z_t','53','24911.974609375'),
        |('dz','z_t','54','24951.291015625'),
        |('dz','z_t','55','24973.59375'),
        |('dz','z_t','56','24985.9609375'),
        |('dz','z_t','57','24992.673828125'),
        |('dz','z_t','58','24996.244140625'),
        |('dz','z_t','59','24998.109375'),
        |('grav','grav','0','980.616')
        |) AS t(variable, dims, coord_key, value)
        |ORDER BY variable, coord_key""".stripMargin,


    "scan_catalog_esmcat" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS member,
        | CAST(year(o_orderdate) AS VARCHAR) AS year, v.variable
        | FROM (SELECT DISTINCT o_orderstatus, o_orderpriority, o_orderdate FROM orders
        |       WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |         AND year(o_orderdate) BETWEEN 1995 AND 1996) o
        | CROSS JOIN (VALUES ('totalprice'), ('custkey')) AS v(variable)
        | GROUP BY 1, 2, 3, 4
        | ORDER BY status, member, year, variable""".stripMargin,

    "scan_catalog_dict" ->
      """SELECT * FROM (VALUES
        | ('ocn','20C','SHF', CAST(482 AS BIGINT)),
        | ('ocn','CTRL','REGION_MASK', CAST(483 AS BIGINT)),
        | ('atm','RCP85','FLNS', CAST(484 AS BIGINT)),
        | ('atm','20C','FLNSC', CAST(NULL AS BIGINT))
        |) AS t(component, experiment, variable, scode)
        |ORDER BY component, experiment, variable""".stripMargin,

    "decode_iterable_cols" ->
      "SELECT doc_id, lang AS elem1, source AS elem2, CAST(2 AS INT) AS n FROM documents ORDER BY doc_id",

    "save_catalog" ->
      """SELECT lang, source, lang || ',' || source AS variable_joined
        | FROM (SELECT DISTINCT lang, source FROM documents) ORDER BY lang, source""".stripMargin,

    "search_exact" ->
      """SELECT p_partkey, p_brand, p_size, p_type FROM part
        | WHERE p_brand IN ('Brand#13','Brand#42') AND p_size IN (13, 18, 35) ORDER BY p_partkey""".stripMargin,

    "search_regex" ->
      """SELECT p_partkey, p_type FROM part
        | WHERE regexp_matches(p_type, '^ECO.*') OR regexp_matches(p_type, '.*DARD$')
        | ORDER BY p_partkey""".stripMargin,

    "search_null" ->
      "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey",

    "search_iterable_membership" ->
      "SELECT doc_id, lang, source FROM documents WHERE list_contains([lang, source], 'en') ORDER BY doc_id",

    "search_empty_query" ->
      "SELECT p_partkey, p_brand FROM part WHERE 1 = 0 ORDER BY p_partkey",

    "search_require_all_on" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag FROM lineitem
        | WHERE l_returnflag IN ('R','A') AND l_suppkey IN (
        |   SELECT l_suppkey FROM lineitem WHERE l_returnflag IN ('R','A')
        |   GROUP BY l_suppkey HAVING COUNT(DISTINCT l_returnflag) = 2)
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "search_derived_union" ->
      """SELECT doc_id, lang, source FROM documents WHERE source = 'src3'
        | UNION
        | SELECT doc_id, lang, source FROM documents WHERE source = 'src7' AND lang = 'en'
        | ORDER BY doc_id""".stripMargin,

    "validate_query" ->
      """SELECT * FROM (VALUES ('p_brand','Brand#13'), ('p_size','1'), ('p_size','2'))
        | AS t(col_name, value) ORDER BY col_name, value""".stripMargin,

    "group_keys" ->
      """SELECT DISTINCT l_returnflag || '.' || l_linestatus AS key, l_returnflag, l_linestatus
        | FROM lineitem ORDER BY key""".stripMargin,

    "keys_info" ->
      """SELECT DISTINCT l_returnflag || '.' || l_linestatus AS key, l_returnflag, l_linestatus
        | FROM lineitem ORDER BY key""".stripMargin,

    "unique" ->
      """SELECT 'lang' AS col_name, lang AS value FROM (SELECT DISTINCT lang FROM documents)
        | UNION ALL
        | SELECT 'source', source FROM (SELECT DISTINCT source FROM documents)
        | ORDER BY col_name, value""".stripMargin,

    "nunique" ->
      """SELECT * FROM (
        | SELECT 'lang' AS col_name, COUNT(DISTINCT lang) AS n_unique FROM documents
        | UNION ALL SELECT 'source', COUNT(DISTINCT source) FROM documents
        | UNION ALL SELECT 'tags', COUNT(*) FROM
        |   (SELECT DISTINCT lang FROM documents UNION SELECT DISTINCT source FROM documents)
        |) ORDER BY col_name""".stripMargin,

    "repr_stats" ->
      """SELECT 'n_assets' AS stat, COUNT(*) AS value FROM documents
        | UNION ALL
        | SELECT 'n_datasets', COUNT(*) FROM (SELECT DISTINCT lang, source FROM documents)
        | ORDER BY stat""".stripMargin,

    "minimal_explode" ->
      """SELECT doc_id, lang AS a, source AS b, lang AS c FROM documents
        | UNION ALL SELECT doc_id, source, lang, lang FROM documents
        | ORDER BY doc_id, a""".stripMargin,

    "unpack_iterable_column" ->
      """SELECT doc_id, lang AS tag FROM documents
        | UNION ALL SELECT doc_id, source FROM documents
        | ORDER BY doc_id, tag""".stripMargin,

    "getitem_entry" ->
      s"""SELECT COUNT(*) AS n_assets, ${dsumSql("l_quantity")} AS sum_qty
         | FROM lineitem WHERE l_returnflag || '.' || l_linestatus = 'R.F'""".stripMargin,

    "load_asset" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",

    "project_requested_vars" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "preprocess_hook" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_extendedprice * (1 - l_discount) AS revenue
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "expand_dims" ->
      "SELECT n_nationkey, n_name, 'CTRL' AS experiment FROM nation ORDER BY n_nationkey",

    "update_attrs" ->
      """SELECT * FROM (VALUES
        | ('intake_esm_attrs:experiment','20C'),
        | ('intake_esm_attrs:member','5'),
        | ('intake_esm_dataset_key','ocn.20C')
        |) AS t(attr_key, attr_value) ORDER BY attr_key""".stripMargin,

    "agg_join_new" ->
      """SELECT o_orderkey, o_orderstatus AS member_id, o_totalprice AS totalprice FROM orders
        | WHERE o_orderstatus IN ('O','F') ORDER BY o_orderkey, member_id""".stripMargin,

    "agg_join_existing" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity AS quantity
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "agg_union" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity AS quantity, l_extendedprice AS extendedprice
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "combine_by_coords" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity AS quantity, l_extendedprice AS extendedprice
        | FROM lineitem WHERE l_returnflag = 'R'
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,

    "to_dataset_dict" ->
      """SELECT o_orderstatus AS key, o_orderkey, CAST(year(o_orderdate) AS INT) AS year,
        | o_orderpriority AS member, o_totalprice AS totalprice, o_custkey AS custkey
        | FROM orders WHERE o_orderstatus IN ('O','F')
        |  AND o_orderpriority IN ('1-URGENT','2-HIGH')
        |  AND year(o_orderdate) BETWEEN 1995 AND 1996
        | ORDER BY key, o_orderkey""".stripMargin,

    "to_datatree" ->
      """SELECT '/' || o_orderstatus AS path, COUNT(*) AS n_rows FROM orders
        | WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND year(o_orderdate) BETWEEN 1995 AND 1996
        | GROUP BY o_orderstatus ORDER BY path""".stripMargin,

    "to_dask" ->
      s"""SELECT COUNT(*) AS n_rows, ${dsumSql("o_totalprice")} AS sum_totalprice FROM orders
         | WHERE o_orderstatus = 'P' AND o_orderpriority IN ('1-URGENT','2-HIGH')
         |  AND year(o_orderdate) BETWEEN 1995 AND 1996""".stripMargin,

    "derived_registry" ->
      """SELECT doc_id, n_chars, CAST(floor(n_chars / 5) AS BIGINT) AS n_tokens_est
        | FROM documents ORDER BY doc_id""".stripMargin,

    "tutorial_urls" ->
      """SELECT * FROM (VALUES
        | ('aws_cesm2_le','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CESM2-LENS.json'),
        | ('aws_cmip6','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CMIP6.json'),
        | ('google_cmip6','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/GOOGLE-CMIP6.json')
        |) AS t(name, url) ORDER BY name""".stripMargin,

    "dedup_exact" ->
      """SELECT source, COUNT(*) AS n FROM (
        | SELECT * FROM documents QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |) GROUP BY source ORDER BY source""".stripMargin,

    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
        | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
        | FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY content_hash""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens
        | FROM documents ORDER BY doc_id""".stripMargin,

    // identical page construction, then the same line/page rules: RE2's
    // (?i)\bjavascript\b and [.!?"]$ behave identically to Java regex here
    "text_c4_clean" ->
      """WITH src AS (
        |  SELECT doc_id, text || '.' || chr(10) || substring(text, 1, 40) || chr(10)
        |    || 'the data pipeline works well.' || chr(10)
        |    || 'please enable javascript to continue.' || chr(10)
        |    || CASE WHEN doc_id % 5 = 0 THEN 'config = { verbose }'
        |            ELSE 'a clean closing line.' END AS text
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(l, '\s+'), w -> w <> '')) >= 3
        |      AND NOT regexp_matches(l, '(?i)\bjavascript\b')) AS kept
        |  FROM src),
        |f AS (
        |  SELECT doc_id AS id, array_to_string(kept, chr(10)) AS clean_text,
        |    CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |    CAST(length(array_to_string(kept, chr(10)))
        |      - length(regexp_replace(array_to_string(kept, chr(10)), '[.!?]', '', 'g'))
        |      AS BIGINT) AS n_sentences,
        |    (contains(text, '{') OR contains(text, '}')) AS has_brace,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem
        |  FROM k)
        |SELECT id, clean_text, n_lines_kept, n_sentences, has_brace, has_lorem,
        |       (n_sentences >= 3 AND NOT has_brace AND NOT has_lorem) AS keep
        |FROM f ORDER BY id""".stripMargin,

    // identical fragment construction, then per-fragment counting: every
    // occurrence of a fragment with count >= 2 is duplicated (Gopher)
    "text_dup_fragments" ->
      """WITH src AS (
        |  SELECT doc_id, text || chr(10) || chr(10) || substring(text, 1, 40)
        |           || chr(10) || chr(10) || substring(text, 1, 40) AS text
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    list_filter(list_transform(regexp_split_to_array(text, '\n\s*\n'),
        |                p -> regexp_replace(trim(p), '\s+', ' ', 'g')),
        |                p -> p <> '') AS paras
        |  FROM src),
        |lc AS (
        |  SELECT doc_id, frag, COUNT(*) AS c FROM fr, UNNEST(lines) AS u(frag)
        |  GROUP BY doc_id, frag),
        |ls AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
        |         CAST(SUM(c * length(frag)) AS BIGINT) AS tot_ch,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_n,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(frag) END), 0) AS BIGINT) AS dup_ch
        |  FROM lc GROUP BY doc_id),
        |pc AS (
        |  SELECT doc_id, frag, COUNT(*) AS c FROM fr, UNNEST(paras) AS u(frag)
        |  GROUP BY doc_id, frag),
        |ps AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_paras,
        |         CAST(SUM(c * length(frag)) AS BIGINT) AS tot_ch,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT) AS dup_n,
        |         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(frag) END), 0) AS BIGINT) AS dup_ch
        |  FROM pc GROUP BY doc_id)
        |SELECT ls.doc_id AS id, ls.n_lines,
        |  CAST(ls.dup_n AS DOUBLE) / CAST(ls.n_lines AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN ls.tot_ch > 0
        |       THEN CAST(ls.dup_ch AS DOUBLE) / CAST(ls.tot_ch AS DOUBLE) ELSE 0.0 END
        |    AS dup_line_char_frac,
        |  ps.n_paras,
        |  CAST(ps.dup_n AS DOUBLE) / CAST(ps.n_paras AS DOUBLE) AS dup_para_frac,
        |  CASE WHEN ps.tot_ch > 0
        |       THEN CAST(ps.dup_ch AS DOUBLE) / CAST(ps.tot_ch AS DOUBLE) ELSE 0.0 END
        |    AS dup_para_char_frac
        |FROM ls JOIN ps USING (doc_id)
        |ORDER BY id""".stripMargin,

    // independent SQL re-derivation of both repetition fractions: bigram
    // counting + row_number top pick, dup-5-gram island merge (the
    // dedup_substring oracle pattern) + char coverage via list slicing
    "text_repetition_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, t, len(t) AS nt,
        |    CAST(list_sum(list_transform(t, x -> length(x)))
        |         + CASE WHEN len(t) > 1 THEN len(t) - 1 ELSE 0 END AS BIGINT) AS total_chars
        |  FROM toks WHERE len(t) > 0),
        |g2 AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
        |  FROM base, UNNEST(range(1, nt)) AS r(i)),
        |t2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram),
        |top2 AS (
        |  SELECT doc_id, c AS top_count, length(gram) AS top_len FROM (
        |    SELECT doc_id, gram, c,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |    FROM t2) WHERE rn = 1),
        |g5 AS (
        |  SELECT doc_id, i - 1 AS s, i + 3 AS e, array_to_string(t[i:i+4], ' ') AS gram
        |  FROM base, UNNEST(range(1, nt - 3)) AS r(i)),
        |d5 AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
        |marked AS (SELECT g.doc_id, g.s, g.e FROM g5 g JOIN d5 d USING (doc_id, gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
        |              THEN 1 ELSE 0 END AS ni
        |  FROM marked),
        |num AS (SELECT doc_id, s, e,
        |               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp_no
        |        FROM isl),
        |spans AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM num GROUP BY doc_id, grp_no),
        |dup5 AS (
        |  SELECT sp.doc_id,
        |         CAST(SUM(length(array_to_string(b.t[sp.s + 1:sp.e + 1], ' '))) AS BIGINT)
        |           AS dup_chars
        |  FROM spans sp JOIN base b USING (doc_id) GROUP BY sp.doc_id)
        |SELECT b.doc_id AS id, b.total_chars,
        |  CAST(COALESCE(top2.top_count, 0) AS BIGINT) AS top_ngram_count,
        |  CASE WHEN COALESCE(top2.top_count, 0) >= 2
        |       THEN CAST(top2.top_count * top2.top_len AS DOUBLE) / CAST(b.total_chars AS DOUBLE)
        |       ELSE 0.0 END AS top_ngram_char_frac,
        |  CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / CAST(b.total_chars AS DOUBLE)
        |    AS dup_ngram_char_frac
        |FROM base b LEFT JOIN top2 USING (doc_id) LEFT JOIN dup5 d ON b.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,

    // same integer cross-multiplied thresholds as the operator; words are
    // the lowercased whitespace tokens, lines the nonempty newline splits
    "text_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(
        |                regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS w,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) // 3
        |      + (length(text) - length(replace(text, chr(8230), ''))) AS n_ell
        |  FROM documents),
        |feat AS (
        |  SELECT id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_w,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ltrim(l) LIKE chr(8226) || '%'
        |      OR ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS BIGINT) AS bullet_l,
        |    CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...'
        |      OR rtrim(l) LIKE '%' || chr(8230))) AS BIGINT) AS ell_l,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
        |    n_hash, n_ell
        |  FROM base)
        |SELECT id, n_words,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS r_mean_word_len,
        |  n_words > 0 AND (n_hash + n_ell) * 10 <= n_words AS r_symbol_ratio,
        |  n_lines = 0 OR bullet_l * 10 <= n_lines * 9 AS r_bullet_lines,
        |  n_lines = 0 OR ell_l * 10 <= n_lines * 3 AS r_ellipsis_lines,
        |  n_words > 0 AND alpha_w * 5 >= n_words * 4 AS r_alpha_words,
        |  stop_hits >= 2 AS r_stop_words,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |    AND (n_words > 0 AND (n_hash + n_ell) * 10 <= n_words)
        |    AND (n_lines = 0 OR bullet_l * 10 <= n_lines * 9)
        |    AND (n_lines = 0 OR ell_l * 10 <= n_lines * 3)
        |    AND (n_words > 0 AND alpha_w * 5 >= n_words * 4)
        |    AND (stop_hits >= 2) AS gopher_keep
        |FROM feat ORDER BY id""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
        | CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS INT) AS n_space,
        | CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alpha_ratio,
        | CAST(length(text) - (length(text) - length(regexp_replace(text, ' ', '', 'g'))) AS DOUBLE)
        |   / CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS DOUBLE) AS mean_token_len
        | FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        | FROM documents ORDER BY doc_id""".stripMargin,

    // same 64-sample derivation over the UTF-8 payload; the exact integer
    // threshold (64·s > Σs) keeps both engines bit-identical
    "multimodal_ahash" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i ->
        |      CAST(('0x' || substr(to_hex(encode(text)),
        |        CAST(floor(i * octet_length(encode(text)) / 64.0) AS INT) * 2 + 1, 2)) AS BIGINT)) AS smp
        |  FROM documents),
        |t AS (SELECT doc_id, smp, list_sum(smp) AS sm FROM s)
        |SELECT doc_id,
        |  array_to_string(list_transform(smp, x -> CASE WHEN x * 64 > sm THEN '1' ELSE '0' END), '') AS ahash_bits
        |FROM t ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime, CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """SELECT doc_id, CAST(off // 500 AS INT) AS frame_idx, off AS offset_ms
        | FROM (SELECT doc_id, unnest(range(0, greatest(n_chars * 10, 1), 500)) AS off FROM documents)
        | ORDER BY doc_id, frame_idx""".stripMargin,

    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_scalar_functions" ->
      """SELECT p_partkey, upper(p_type) AS u, lower(p_brand) AS l,
        | substr(p_name, 1, 5) AS pre, CAST(length(p_name) AS INT) AS len,
        | p_brand || '|' || p_type AS cat, abs(p_size - 25) AS absz,
        | CAST(p_partkey % 7 AS BIGINT) AS m7,
        | CAST(floor(p_retailprice) AS BIGINT) AS flr, CAST(ceil(p_retailprice) AS BIGINT) AS cl,
        | coalesce(nullif(p_brand, 'Brand#13'), 'thirteen') AS co,
        | trim('  x  ') AS tr
        | FROM part ORDER BY p_partkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        | ORDER BY c_custkey""".stripMargin,

    "q_range_join" ->
      """WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) AS od_us FROM orders),
        |i AS (SELECT o_orderkey AS window_key, od_us AS win_start,
        |        od_us + CAST(604800000000 AS BIGINT) AS win_end FROM o WHERE o_orderkey % 997 = 0)
        |SELECT i.window_key, COUNT(*) AS n_orders_in_window
        | FROM i JOIN o ON o.od_us >= i.win_start AND o.od_us < i.win_end
        | GROUP BY i.window_key ORDER BY i.window_key""".stripMargin,

    "q_set_ops" ->
      """SELECT lang, 'both' AS op FROM (
        |  SELECT lang FROM documents WHERE source IN ('src0','src1','src2')
        |  INTERSECT
        |  SELECT lang FROM documents WHERE source IN ('src3','src4'))
        |UNION ALL
        |SELECT lang, 'only_a' FROM (
        |  SELECT lang FROM documents WHERE source IN ('src0','src1','src2')
        |  EXCEPT
        |  SELECT lang FROM documents WHERE source IN ('src3','src4'))
        |ORDER BY op, lang""".stripMargin,

    "q_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         | ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_json_functions" ->
      """WITH j AS (
        |  SELECT doc_id,
        |   '{"lang":"' || lang || '","n":' || n_chars || ',"src":"' || source || '"}' AS js
        |  FROM documents)
        |SELECT doc_id,
        |  json_extract_string(js, '$.lang') AS j_lang,
        |  CAST(json_extract(js, '$.n') AS BIGINT) AS j_n,
        |  json_extract_string(js, '$.src') AS j_src
        |FROM j ORDER BY doc_id""".stripMargin,

    "q_pivot" ->
      s"""SELECT o_orderpriority,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS f_price,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS o_price,
         | CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS p_price
         | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      s"""WITH w AS (
         | SELECT o_orderstatus, CAST(COUNT(*) AS DOUBLE) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS sum_price
         | FROM orders GROUP BY o_orderstatus)
         |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
         |UNION ALL SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM w
         |ORDER BY o_orderstatus, metric""".stripMargin,

    "q_datetime_functions" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
        | CAST(day(o_orderdate) AS INT) AS dy, CAST(dayofweek(o_orderdate) AS INT) AS dow0,
        | CAST(dayofyear(o_orderdate) AS INT) AS doy, CAST(quarter(o_orderdate) AS INT) AS qtr,
        | epoch_us(date_trunc('week', o_orderdate)) AS week_start_us,
        | epoch_us(CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)) AS month_end_us,
        | epoch_us(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)) AS plus30_us
        | FROM orders WHERE o_custkey % 1000 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_map_functions" ->
      """SELECT doc_id, lang AS m_lang, source AS m_src,
        | CAST(2 AS INT) AS n_keys, 'lang,src' AS keys
        | FROM documents ORDER BY doc_id""".stripMargin,

    "q_exists_subquery" ->
      """SELECT o_orderkey, o_orderstatus
        | FROM orders o
        | WHERE EXISTS (SELECT 1 FROM lineitem l
        |               WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |   AND o_custkey % 500 = 0
        | ORDER BY o_orderkey""".stripMargin,

    "q_window_range" ->
      """WITH o AS (
        | SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us, o_totalprice
        | FROM orders WHERE o_custkey % 200 = 0)
        |SELECT o_custkey, o_orderkey, od_us,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |   OVER (PARTITION BY o_custkey ORDER BY od_us
        |         RANGE BETWEEN 7776000000000 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
        |  AS trailing_90d_spend
        |FROM o ORDER BY o_custkey, od_us, o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_spend
        | FROM orders WHERE o_custkey % 100 = 0
        | ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_quantiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty, COUNT(*) AS n
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // exact values + expected-true accuracy flags: if a Spark sketch drifts
    // outside its bound, the boolean flips and the hash compare fails
    "q_sketch_stats" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_orderkey) AS exact_nd,
        | TRUE AS hll_ok,
        | quantile_cont(l_quantity, 0.5) AS exact_median,
        | TRUE AS median_ok
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        |         OVER (PARTITION BY user_id) AS v_us FROM e),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us > v_us THEN us END)
        |         OVER (PARTITION BY user_id) AS c_us FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > c_us THEN us END)
        |         OVER (PARTITION BY user_id) AS p_us FROM s2),
        |per AS (SELECT user_id, MAX(v_us) AS v, MAX(c_us) AS c, MAX(p_us) AS p
        |        FROM s3 GROUP BY user_id)
        |SELECT CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
        |  CAST(SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_full_funnel
        |FROM per""".stripMargin,

    "events_hourly" ->
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         | FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events),
        |s AS (SELECT user_id, event_id, us,
        |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        | FROM e)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(us) AS first_us, MAX(us) AS last_us
        | FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "embed_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        | SELECT q.query_id, e.vec_id AS neighbor_id,
        |  list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))) AS cosine
        | FROM embeddings e, q)
        |SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        | FROM scored) WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,

    // full BM25 re-derivation: same Okapi formula, same left-to-right
    // per-term float sums (explicit expression, NOT an unordered SUM),
    // same (score desc, doc_id asc) tie rule — ranks/dl/tf are the
    // hash-exact surface. The CTE prefix is shared with search_hybrid_rrf
    // (bm25OracleCtes).
    "search_bm25_topk" ->
      s"""WITH $bm25OracleCtes
        |SELECT query_id, rank, doc_id, CAST(dl AS BIGINT) AS dl,
        |       CAST(tf_total AS BIGINT) AS tf_total
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored WHERE score > 0)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // posting-store stats oracle (r17): docs / sumdl / distinct terms /
    // (term, doc) posting rows re-derived from the RAW corpus through the
    // mirrored tokenizer — cross-checks the meta ledger AND the postings
    // plane against ground truth. Null/blank texts tokenize to zero
    // tokens on both sides (COALESCE mirrors the engine's dl = 0).
    "search_bm25_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |flat AS (
        |  SELECT DISTINCT doc_id, term
        |  FROM (SELECT doc_id, UNNEST(t) AS term FROM toks))
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS docs,
        |  (SELECT CAST(COALESCE(SUM(COALESCE(len(t), 0)), 0) AS BIGINT) FROM toks) AS sumdl,
        |  CAST(COUNT(DISTINCT term) AS BIGINT) AS terms,
        |  CAST(COUNT(*) AS BIGINT) AS postings
        |FROM flat""".stripMargin,

    // vector-store stats oracle (r17): vectors from the raw embeddings
    // table; dim from the corpus vectors themselves (the engine reports
    // the model.json round trip — a model persisted with the wrong
    // geometry breaks the hash); subspaces/cells are the build contract
    "ann_index_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS vectors,
        |  (SELECT CAST(len(embedding) AS INT) FROM embeddings LIMIT 1) AS dim,
        |  CAST(8 AS INT) AS subspaces,
        |  CAST(16 AS INT) AS cells
        |FROM embeddings""".stripMargin,
    // r18 drift gauge: batch sizes re-derive from the corpus (+ the
    // fixture's 20 orthogonal vectors); the geometry flags — baseline
    // fit, detection margin, the orthogonal batch pinned at distance
    // ~1.0, and the order-independent recompute — verify in-plan and
    // the oracle pins them TRUE
    "ann_index_drift" ->
      """SELECT 'ann_drift' AS method,
        |  CAST(COUNT(*) AS BIGINT) AS vectors_b0,
        |  CAST(20 AS BIGINT) AS vectors_b1,
        |  TRUE AS baseline_fits_model,
        |  TRUE AS drift_detected,
        |  TRUE AS orthogonal_batch_at_ceiling,
        |  TRUE AS p95_drifts_too,
        |  TRUE AS matches_recompute
        |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin,

    // the ordered-fold battery: the 3 standard probes (shared CTEs) plus
    // q_wide = 'spark hash join' ×11 — 33 tokens, so the engine's global
    // maxOrd crosses the pivot cap and every query folds through
    // OrderedContribSum. The wide score is the explicit 33-term
    // LEFT-TO-RIGHT sum (generated below — same repeating idf/tf columns,
    // never an unordered SUM), matching the fold's ord-sorted adds bit
    // for bit; duplicate terms contribute once per occurrence, tf_total
    // counts distinct terms once (the engine's first_occ rule).
    "search_bm25_batch_wide" ->
      s"""WITH $bm25OracleCtes,
        |scored_w AS (
        |  SELECT * FROM scored
        |  UNION ALL
        |  SELECT 'q_wide' AS query_id, doc_id, dl,
        |    tf_spark + tf_hash + tf_join AS tf_total,
        |    ${Seq.fill(11)(Seq("spark", "hash", "join")).flatten.map(t =>
             s"(idf_$t * CAST(tf_$t AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_$t AS DOUBLE) + nrm))")
             .mkString("\n        |    + ")} AS score
        |  FROM normed)
        |SELECT query_id, rank, doc_id, CAST(dl AS BIGINT) AS dl,
        |       CAST(tf_total AS BIGINT) AS tf_total
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored_w WHERE score > 0)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // phrase retrieval oracle: every phrase tf re-derived by DIRECT
    // STRING ADJACENCY over the tokenized corpus text (1-based DuckDB
    // list indexing; range(1, len) yields valid 2-gram starts, range(1,
    // len-1) 3-gram starts) — the engine answers from its positions
    // plane, so a positional bug (wrong ordinal, off-by-one, unsorted
    // list, tombstone leak) cannot satisfy both. Same Okapi pseudo-term
    // scoring, same (score desc, doc_id asc) tie rule; ranks/dl/tf are
    // the hash-exact surface
    "search_bm25_phrase" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'hash' AND t[i+1] = 'join')) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t)), i -> t[i] = 'table' AND t[i+1] = 'scan')) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) - 1), i -> t[i] = 'the' AND t[i+1] = 'batch' AND t[i+2] = 'batch')) AS BIGINT) AS tf_bb
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hj,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_ts,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_bb
        |  FROM occ),
        |normed AS (
        |  SELECT occ.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(occ.dl AS DOUBLE) AS nrm
        |  FROM occ, st),
        |scored AS (
        |  SELECT 'p_hash_join' AS query_id, doc_id, dl, tf_hj AS tf,
        |    idf_hj * CAST(tf_hj AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hj AS DOUBLE) + nrm) AS score
        |  FROM normed WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'p_table_scan', doc_id, dl, tf_ts,
        |    idf_ts * CAST(tf_ts AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_ts AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'p_batch2', doc_id, dl, tf_bb,
        |    idf_bb * CAST(tf_bb AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_bb AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_bb > 0)
        |SELECT query_id, rank, doc_id, dl, tf
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // NEAR-k (sloppy-phrase) oracle (r16): every tf re-derived by DIRECT
    // WINDOWED string indexing — phrase ordinal i matches anywhere in
    // [s+i, s+i+slop] (slop = 1 here), expressed as an AND of per-ordinal
    // ORs over the tokenized text; the engine answers from its positions
    // plane via banded votes, so a band bug (wrong width, off-by-one,
    // missing dedupe) cannot satisfy both. Out-of-range list indexes read
    // NULL in DuckDB, and NULL conjunctions drop out of list_filter —
    // exactly the no-term-there case. The repeated-term trigram pins the
    // documented band-overlap rule (one 'batch' can serve both ordinals).
    // Same Okapi pseudo-term scoring and tie rule as the phrase oracle.
    "search_bm25_near" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'hash' OR t[s+1] = 'hash') AND (t[s+1] = 'join' OR t[s+2] = 'join'))) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'table' OR t[s+1] = 'table') AND (t[s+1] = 'scan' OR t[s+2] = 'scan'))) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'the' OR t[s+1] = 'the') AND (t[s+1] = 'batch' OR t[s+2] = 'batch') AND (t[s+2] = 'batch' OR t[s+3] = 'batch'))) AS BIGINT) AS tf_bb
        |  FROM toks),
        |st AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_hj > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_hj,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_ts > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_ts,
        |    ln(1 + (CAST(count(*) AS DOUBLE) - SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5) / (SUM(CASE WHEN tf_bb > 0 THEN 1 ELSE 0 END) + 0.5)) AS idf_bb
        |  FROM occ),
        |normed AS (
        |  SELECT occ.*, st.*,
        |    1.2 * (1 - 0.75) + (1.2 * 0.75 / st.avgdl) * CAST(occ.dl AS DOUBLE) AS nrm
        |  FROM occ, st),
        |scored AS (
        |  SELECT 'n_hash_join' AS query_id, doc_id, dl, tf_hj AS tf,
        |    idf_hj * CAST(tf_hj AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_hj AS DOUBLE) + nrm) AS score
        |  FROM normed WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'n_table_scan', doc_id, dl, tf_ts,
        |    idf_ts * CAST(tf_ts AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_ts AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'n_batch2', doc_id, dl, tf_bb,
        |    idf_bb * CAST(tf_bb AS DOUBLE) * (1.2 + 1.0) / (CAST(tf_bb AS DOUBLE) + nrm)
        |  FROM normed WHERE tf_bb > 0)
        |SELECT query_id, rank, doc_id, dl, tf
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // the NEAR scorer: the same windowed re-derivation minus the top-k —
    // every (doc, dl, tf) row at slop = 1, the scored surface the frozen
    // model's row-local kernel must reproduce
    "search_bm25_near_scored" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'hash' OR t[s+1] = 'hash') AND (t[s+1] = 'join' OR t[s+2] = 'join'))) AS BIGINT) AS tf_hj,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'table' OR t[s+1] = 'table') AND (t[s+1] = 'scan' OR t[s+2] = 'scan'))) AS BIGINT) AS tf_ts,
        |    CAST(len(list_filter(range(1, len(t) + 1), s -> (t[s] = 'the' OR t[s+1] = 'the') AND (t[s+1] = 'batch' OR t[s+2] = 'batch') AND (t[s+2] = 'batch' OR t[s+3] = 'batch'))) AS BIGINT) AS tf_bb
        |  FROM toks)
        |SELECT query_id, doc_id, dl, tf FROM (
        |  SELECT 'n_hash_join' AS query_id, doc_id, dl, tf_hj AS tf
        |  FROM occ WHERE tf_hj > 0
        |  UNION ALL
        |  SELECT 'n_table_scan', doc_id, dl, tf_ts FROM occ WHERE tf_ts > 0
        |  UNION ALL
        |  SELECT 'n_batch2', doc_id, dl, tf_bb FROM occ WHERE tf_bb > 0)
        |ORDER BY query_id, doc_id""".stripMargin,

    // hybrid retrieval: the BM25 ranking (shared CTEs above) and the
    // brute-force cosine ranking (embed_cosine_topk's formula, query ids
    // mapped onto the battery's) fused by reciprocal rank — fixed-order
    // coalesced terms, so even the float rrf_score is hash-exact
    "search_hybrid_rrf" ->
      s"""WITH $bm25OracleCtes,
        |bm25r AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM scored WHERE score > 0) WHERE rank <= 10),
        |q AS (SELECT CASE vec_id WHEN 0 THEN 'q_join' WHEN 1 THEN 'q_scan' ELSE 'q_stream' END AS query_id,
        |             embedding AS qv FROM embeddings WHERE vec_id < 3),
        |cscored AS (
        | SELECT q.query_id, e.vec_id AS doc_id,
        |  list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (a, b) -> a + b))) AS cosine
        | FROM embeddings e, q),
        |cosr AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rank
        |    FROM cscored) WHERE rank <= 10),
        |f AS (
        |  SELECT coalesce(b.query_id, c.query_id) AS query_id,
        |         coalesce(b.doc_id, c.doc_id) AS doc_id,
        |         b.rank AS r0, c.rank AS r1
        |  FROM bm25r b FULL JOIN cosr c ON b.query_id = c.query_id AND b.doc_id = c.doc_id),
        |fs AS (
        |  SELECT query_id, doc_id,
        |         coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r0 AS DOUBLE)), CAST(0 AS DOUBLE))
        |         + coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r1 AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf_score,
        |         r0, r1
        |  FROM f)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_score,
        |       CAST(r0 AS BIGINT) AS bm25_rank, CAST(r1 AS BIGINT) AS cosine_rank
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rank
        |  FROM fs)
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,


    // property-style: the oracle pins the recall floors as met
    "ann_recall_check" ->
      """SELECT * FROM (VALUES ('ivf', TRUE), ('lsh', TRUE)) AS t(method, recall_ok)
        |ORDER BY method""".stripMargin,

    // property-style (r11 — closes the last no_oracle pair): the ANN
    // top-k invariants are verified in-plan (k rows/query with ranks
    // 1..k, deterministic (cosine desc, id asc) tie rule, every neighbor
    // within the pinned slack of the brute-force k-th cosine, reported
    // cosine bit-equal to a vector recompute); the oracle pins them TRUE
    // and re-derives the query count from the table
    "ann_lsh_topk" ->
      """SELECT 'lsh' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    "ann_pq_topk" ->
      """SELECT 'pq' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    "ann_ivf_topk" ->
      """SELECT 'ivf' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,

    // r14 persisted IVF-PQ index store: the property verdict plus the
    // in-plan bit-equality of the store path vs the in-flight pqTopK
    // (`forms_equal`) — the oracle pins all booleans TRUE and re-derives
    // the query count from the table
    "ann_index_search" ->
      """SELECT 'ivfpq_store' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS k_rows_ok, TRUE AS tie_rule_ok,
        |       TRUE AS cosine_floor_ok, TRUE AS cosine_exact_ok,
        |       TRUE AS forms_equal
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    "ann_index_append" ->
      """SELECT 'ivfpq_append' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS append_equals_oneshot,
        |       TRUE AS appended_self_hit
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    "ann_index_search_batch" ->
      """SELECT 'ivfpq_batch' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS batch_equals_driver
        |FROM embeddings WHERE vec_id < 50""".stripMargin,
    "ann_index_compact" ->
      """SELECT 'ivfpq_compact' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS compact_equals_source,
        |       TRUE AS single_batch
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    // r16 filtered vector search: equality to the restricted-store search
    // and the batch-form agreement are verified in-plan; the oracle pins
    // them TRUE and re-derives the query count
    "ann_index_search_filtered" ->
      """SELECT 'ivfpq_filtered' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS filtered_equals_restricted_store,
        |       TRUE AS batch_equals_driver,
        |       TRUE AS only_allowed_ids
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    // r17 refill: starvation, the k-fill, and bit-equality to brute force
    // over the single-cell survivor set are verified in-plan; the oracle
    // pins them TRUE
    "ann_index_search_filtered_refill" ->
      """SELECT 'ivfpq_refill' AS method, CAST(1 AS BIGINT) AS n_queries,
        |       TRUE AS fixture_has_k_survivors,
        |       TRUE AS starved_without_refill,
        |       TRUE AS refill_fills_k,
        |       TRUE AS equals_brute_force""".stripMargin,
    // r18 batch-form refill: same fixture; additionally pins bit-equality
    // to the driver refill and one-pass behavior on an unstarved battery
    "ann_index_search_filtered_refill_batch" ->
      """SELECT 'ivfpq_refill_batch' AS method, CAST(1 AS BIGINT) AS n_queries,
        |       TRUE AS fixture_has_k_survivors,
        |       TRUE AS starved_without_refill,
        |       TRUE AS refill_fills_k,
        |       TRUE AS equals_brute_force,
        |       TRUE AS equals_driver_refill,
        |       TRUE AS widens_only_on_starved""".stripMargin,

    // r16 production-parameter hybrid fusion over the stores: the
    // equality against the fusion of the independently-gated forms is
    // verified in-plan; the oracle pins it TRUE and re-derives the query
    // count from the battery size
    "search_hybrid_indexed_pruned" ->
      """SELECT 'hybrid_stores' AS method, CAST(3 AS BIGINT) AS n_queries,
        |       TRUE AS fused_equals_forms""".stripMargin,

    "ann_index_delete" ->
      """SELECT 'ivfpq_delete' AS method,
        |       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
        |       TRUE AS delete_equals_rebuild,
        |       TRUE AS deleted_absent,
        |       TRUE AS compact_equals,
        |       TRUE AS tombstones_dropped
        |FROM embeddings WHERE vec_id < 3""".stripMargin,

    // normalization oracle: identical messy-suffix construction, then
    // DuckDB's nfc_normalize (same stable Unicode algorithm as
    // java.text.Normalizer) + the identical regexp chain
    "text_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, text || '  cafe' || chr(769) || ' ' || chr(9) || ' x' ||
        |         chr(13) || chr(10) || '  y ' || chr(1) || 'z' AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(nfc_normalize(text), '\r\n|\r', chr(10), 'g'),
        |            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |          '[ \t]+', ' ', 'g'),
        |        ' ?\n ?', chr(10), 'g'),
        |      '^[ \n]+|[ \n]+$', '', 'g') AS norm
        |  FROM d)
        |SELECT doc_id, norm, lower(norm) AS norm_lower
        |FROM n ORDER BY doc_id""".stripMargin,

    // paragraph-dedup oracle: the identical deterministic multi-paragraph
    // construction, then first-(doc,idx)-per-identical-paragraph in plain
    // SQL (the engine compares 128-bit hashes; the oracle compares the
    // paragraph text itself, so a hash bug cannot satisfy both)
    "dedup_paragraphs" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text || chr(10) || 'shared boilerplate ' ||
        |         CAST(doc_id % 7 AS VARCHAR) || chr(10) || substring(text, 1, 50) AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, r.i,
        |         regexp_replace(parts[r.i], '^\s+|\s+$', '', 'g') AS para
        |  FROM (SELECT doc_id, regexp_split_to_array(text, chr(10)) AS parts FROM docs2),
        |       UNNEST(range(1, len(parts) + 1)) AS r(i)
        |  WHERE regexp_replace(parts[r.i], '^\s+|\s+$', '', 'g') <> ''),
        |idx AS (
        |  SELECT doc_id, para,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS para_idx
        |  FROM p)
        |SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
        |       row_number() OVER (PARTITION BY para
        |                          ORDER BY doc_id * 1000000000 + para_idx) = 1 AS keep
        |FROM idx ORDER BY doc_id, para_idx""".stripMargin,

    "dedup_paragraphs_clean" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text || chr(10) || 'shared boilerplate ' ||
        |         CAST(doc_id % 7 AS VARCHAR) || chr(10) || substring(text, 1, 50) AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, r.i,
        |         regexp_replace(parts[r.i], '^\s+|\s+$', '', 'g') AS para
        |  FROM (SELECT doc_id, regexp_split_to_array(text, chr(10)) AS parts FROM docs2),
        |       UNNEST(range(1, len(parts) + 1)) AS r(i)
        |  WHERE regexp_replace(parts[r.i], '^\s+|\s+$', '', 'g') <> ''),
        |idx AS (
        |  SELECT doc_id, para,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS para_idx
        |  FROM p),
        |marked AS (
        |  SELECT doc_id, para, para_idx,
        |         row_number() OVER (PARTITION BY para
        |                            ORDER BY doc_id * 1000000000 + para_idx) = 1 AS keep
        |  FROM idx)
        |SELECT d.doc_id, COALESCE(s.t, '') AS clean_text
        |FROM docs2 d LEFT JOIN (
        |  SELECT doc_id, string_agg(para, chr(10) ORDER BY para_idx) AS t
        |  FROM marked WHERE keep GROUP BY doc_id) s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // property-style (pipeline_semdedup convention): clustering rows are
    // not portable, the incremental-dedup invariants are; n_total
    // re-derived from the batch slice by DuckDB
    "dedup_incremental_semantic" ->
      """SELECT CAST(0 AS BIGINT) AS bad_flag,
        |       CAST(0 AS BIGINT) AS not_earliest,
        |       CAST(0 AS BIGINT) AS missed,
        |       CAST(count(*) AS BIGINT) AS n_total,
        |       TRUE AS any_flagged
        |FROM embeddings WHERE vec_id >= 250""".stripMargin,

    // property-style (ann_recall_check convention): the greedy keep-first
    // invariants are order-invariant even though the kmeans centroid float
    // sums are not; n_total re-derived from the table by DuckDB
    "pipeline_semdedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(0 AS BIGINT) AS kept_pair_violations,
        |       CAST(0 AS BIGINT) AS bad_shadow,
        |       CAST(0 AS BIGINT) AS not_earliest,
        |       TRUE AS any_dropped
        |FROM embeddings""".stripMargin,

    // property-style: the LSH pair set is cross-validated in-plan against
    // exact shingle-set jaccard (estimator margin, high-sim probe recall);
    // the oracle pins the checks as met
    "dedup_minhash_lsh" ->
      """SELECT * FROM (VALUES ('est_within_margin', TRUE), ('found_pairs', TRUE),
        |  ('recall_high_sim_probes', TRUE)) AS t(prop, ok) ORDER BY prop""".stripMargin,

    // property-style: pigeonhole completeness at hamming <= blocks-1 is a
    // theorem; radius-10 recall floor documents the blocking approximation
    "dedup_simhash" ->
      """SELECT * FROM (VALUES ('found_pairs', TRUE), ('pigeonhole_exact_le3', TRUE),
        |  ('recall_le10_probes', TRUE)) AS t(prop, ok) ORDER BY prop""".stripMargin,

    // Exact word-3-gram jaccard ≥ 0.3 over all pairs, brute force by shingle
    // equality join — the LSH candidate step on the Spark side is exhaustive
    // at this similarity level, so the sets agree.
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(cnt AS DOUBLE) / CAST(sa.n + sb.n - cnt AS DOUBLE) AS jaccard
        |FROM ix JOIN sizes sa ON ix.id_a = sa.doc_id JOIN sizes sb ON ix.id_b = sb.doc_id
        |WHERE CAST(cnt AS DOUBLE) / CAST(sa.n + sb.n - cnt AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // Transitive closure over the exact jaccard>=0.3 pair graph: the same
    // pair derivation as dedup_ngram_jaccard's oracle, then a recursive
    // min-label propagation (edges both directions; the fixpoint MIN over
    // every reachable node IS the component id). Exact — the Spark side's
    // large-star/small-star iteration provably converges to the same
    // minimum-reachable-id labeling.
    "dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM ix JOIN sizes sa ON ix.id_a = sa.doc_id JOIN sizes sb ON ix.id_b = sb.doc_id
        |  WHERE CAST(cnt AS DOUBLE) / CAST(sa.n + sb.n - cnt AS DOUBLE) >= 0.3),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b AS s, id_a AS d FROM pairs),
        |cc AS (
        |  SELECT s AS id, s AS lbl FROM edges
        |  UNION
        |  SELECT e.d AS id, cc.lbl FROM cc JOIN edges e ON cc.id = e.s),
        |comp AS (SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id),
        |szs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
        |SELECT comp.id AS doc_id, comp.cluster_id, szs.cluster_size
        |FROM comp JOIN szs USING (cluster_id)
        |ORDER BY doc_id""".stripMargin,

    // keep-one-per-cluster: drop every clustered doc except its component
    // minimum; singletons (no pairs) never enter the closure and survive
    "dedup_clusters_clean" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM ix JOIN sizes sa ON ix.id_a = sa.doc_id JOIN sizes sb ON ix.id_b = sb.doc_id
        |  WHERE CAST(cnt AS DOUBLE) / CAST(sa.n + sb.n - cnt AS DOUBLE) >= 0.3),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b AS s, id_a AS d FROM pairs),
        |cc AS (
        |  SELECT s AS id, s AS lbl FROM edges
        |  UNION
        |  SELECT e.d AS id, cc.lbl FROM cc JOIN edges e ON cc.id = e.s),
        |comp AS (SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id),
        |drops AS (SELECT id FROM comp WHERE id <> cluster_id)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |LEFT JOIN drops ON d.doc_id = drops.id
        |WHERE drops.id IS NULL
        |ORDER BY doc_id""".stripMargin,

    // ExactSubstr oracle: same window/canonical/merge derivation in plain
    // SQL — case-preserving tokens (exact means byte-exact), windows of 8,
    // canonical key doc_id*1e9+pos, gaps-and-islands merge per doc. The
    // COALESCE(… + 1, -1) encodes "no previous span" (s >= 0 > -1 always
    // starts an island), matching the Spark isNull branch.
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS sh,
        |         doc_id * 1000000000 + (i - 1) AS k
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)),
        |grp AS (SELECT sh, COUNT(*) AS c, MIN(k) AS canon FROM wins GROUP BY sh),
        |marked AS (
        |  SELECT w.doc_id, w.pos AS s, w.pos + 7 AS e
        |  FROM wins w JOIN grp g ON w.sh = g.sh
        |  WHERE g.c > 1 AND w.k <> g.canon),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, -1)
        |              THEN 1 ELSE 0 END AS ni
        |  FROM marked),
        |num AS (SELECT doc_id, s, e,
        |               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp_no
        |        FROM isl)
        |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
        |       CAST(MAX(e) AS BIGINT) AS span_end,
        |       CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
        |FROM num GROUP BY doc_id, grp_no
        |ORDER BY doc_id, span_start""".stripMargin,

    "dedup_substring_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS sh,
        |         doc_id * 1000000000 + (i - 1) AS k
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i)),
        |grp AS (SELECT sh, COUNT(*) AS c, MIN(k) AS canon FROM wins GROUP BY sh),
        |marked AS (
        |  SELECT w.doc_id, w.pos AS s, w.pos + 7 AS e
        |  FROM wins w JOIN grp g ON w.sh = g.sh
        |  WHERE g.c > 1 AND w.k <> g.canon),
        |tokpos AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok
        |  FROM tokpos tp
        |  WHERE NOT EXISTS (SELECT 1 FROM marked m
        |                    WHERE m.doc_id = tp.doc_id AND tp.pos BETWEEN m.s AND m.e))
        |SELECT d.doc_id,
        |       COALESCE(kk.clean_text, '') AS clean_text,
        |       CAST(COALESCE(kk.nk, 0) AS BIGINT) AS n_tokens_kept
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
        |         COUNT(*) AS nk
        |  FROM kept GROUP BY doc_id) kk ON d.doc_id = kk.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_exact_stats" ->
      """WITH g AS (SELECT md5(text) AS h, COUNT(*) AS cluster_size
        |           FROM documents GROUP BY md5(text))
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |       CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |       CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
        |FROM g GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // exact cross-side jaccard ground truth — LSH is candidates-only in the
    // engine; the exact verify makes the emitted pair set deterministic
    "dedup_incremental_near" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT b.doc_id AS id_batch, c.doc_id AS id_corpus, COUNT(*) AS cnt
        |  FROM sh b JOIN sh c ON b.sh = c.sh
        |  WHERE b.doc_id >= 250 AND c.doc_id < 250
        |  GROUP BY 1, 2)
        |SELECT id_batch, id_corpus,
        |  CAST(cnt AS DOUBLE) / CAST(sb.n + sc.n - cnt AS DOUBLE) AS jaccard
        |FROM ix JOIN sizes sb ON ix.id_batch = sb.doc_id
        |        JOIN sizes sc ON ix.id_corpus = sc.doc_id
        |WHERE CAST(cnt AS DOUBLE) / CAST(sb.n + sc.n - cnt AS DOUBLE) >= 0.3
        |ORDER BY id_batch, id_corpus""".stripMargin,

    "dedup_incremental" ->
      """SELECT b.doc_id FROM documents b
        |WHERE b.doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id < 250 AND c.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,

    // Same list_reduce cosine formula as embed_cosine_topk (bit-exact vs the
    // native FloatVecCosine expression); blocking key keeps it an equality
    // join on both sides.
    "dedup_embedding" ->
      """WITH v AS (SELECT label, vec_id, embedding FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cosine
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |   / (sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |      * sqrt(list_reduce(list_transform(range(1, 65), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // Full re-derivation of UrlCanon.canonicalizeUrl in DuckDB list/regex SQL
    // (same spec, independent implementation): fragment strip, FIRST-'?'-only
    // split, scheme-conditional :80/:443 strip, tracking-param filter,
    // byte-sorted params, trailing-slash strip, null/empty singletons.
    "dedup_url_canon" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 8 AS INT)
        |      WHEN 0 THEN 'http://Example.COM/page' || CAST(doc_id // 8 AS VARCHAR) || '/?b=2&a=1&utm_source=x#frag'
        |      WHEN 1 THEN 'http://example.com:80/page' || CAST(doc_id // 8 AS VARCHAR) || '?a=1&b=2'
        |      WHEN 2 THEN 'https://example.com:443/page' || CAST(doc_id // 8 AS VARCHAR)
        |      WHEN 3 THEN 'https://example.com/page' || CAST(doc_id // 8 AS VARCHAR) || '/'
        |      WHEN 4 THEN 'http://example.com:443/page' || CAST(doc_id // 8 AS VARCHAR)
        |      WHEN 5 THEN 'http://example.com/q' || CAST(doc_id // 8 AS VARCHAR) || '?a=1?x&b=2&gclid=z'
        |      WHEN 6 THEN NULL
        |      ELSE ''
        |    END AS url
        |  FROM documents),
        |split AS (
        |  SELECT doc_id, nofrag,
        |    CASE WHEN strpos(nofrag, '?') > 0 THEN substr(nofrag, 1, strpos(nofrag, '?') - 1) ELSE nofrag END AS base,
        |    CASE WHEN strpos(nofrag, '?') > 0 THEN substr(nofrag, strpos(nofrag, '?') + 1) ELSE '' END AS query
        |  FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM urls)),
        |p2 AS (
        |  SELECT doc_id, nofrag, base,
        |    list_filter(string_split(query, '&'), x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)')) AS params,
        |    regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1) AS schemehost
        |  FROM split),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN nofrag IS NULL THEN NULL ELSE
        |      regexp_replace(regexp_replace(lower(schemehost), '^(http://.*):80$', '\1'), '^(https://.*):443$', '\1')
        |      || regexp_replace(substr(base, length(schemehost) + 1), '/+$', '')
        |      || CASE WHEN len(params) > 0 THEN '?' || array_to_string(list_sort(params), '&') ELSE '' END
        |    END AS canonical_url
        |  FROM p2)
        |SELECT canonical_url, MIN(doc_id) AS survivor_id, COUNT(*) AS n_dups
        |FROM canon
        |GROUP BY canonical_url, CASE WHEN canonical_url IS NULL OR canonical_url = '' THEN doc_id END
        |ORDER BY survivor_id""".stripMargin,

    "text_lang_id" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_transform(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''),
        |                   x -> regexp_replace(x, '[^\p{L}]', '', 'g')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(['the','and','of','to','in','is','that','it','for','with'], w -> list_contains(t, w))) AS h_en,
        |    len(list_filter(['der','die','das','und','ist','nicht','ein','mit','für','auf'], w -> list_contains(t, w))) AS h_de,
        |    len(list_filter(['le','la','les','et','est','pas','une','pour','dans','que'], w -> list_contains(t, w))) AS h_fr,
        |    len(list_filter(['el','la','los','y','es','no','una','para','en','que'], w -> list_contains(t, w))) AS h_es
        |  FROM tk)
        |SELECT doc_id, lang,
        |  CASE WHEN m > 0 AND (CAST(h_en = m AS INT) + CAST(h_de = m AS INT) + CAST(h_fr = m AS INT) + CAST(h_es = m AS INT)) = 1
        |       THEN CASE WHEN h_en = m THEN 'en' WHEN h_de = m THEN 'de' WHEN h_fr = m THEN 'fr' ELSE 'es' END
        |       ELSE 'und' END AS guess
        |FROM (SELECT *, greatest(h_en, h_de, h_fr, h_es) AS m FROM h)
        |ORDER BY doc_id""".stripMargin,

    // same 3-gram derivation as dedup_ngram_jaccard's oracle; eval slice =
    // doc_id % 97 == 0, hit = distinct shared gram, flag at >= 2 hits
    "pipeline_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT s.doc_id, COUNT(*) AS hits
        |  FROM sh s JOIN ev ON s.sh = ev.sh
        |  WHERE s.doc_id % 97 <> 0
        |  GROUP BY s.doc_id)
        |SELECT doc_id, hits FROM hits WHERE hits >= 2 ORDER BY doc_id""".stripMargin,

    "pipeline_chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t,
        |    greatest(CAST(ceil(len(t) / 48.0) AS BIGINT), 1) AS nc
        |  FROM toks),
        |e AS (SELECT doc_id, t, i AS chunk_idx FROM c, UNNEST(range(0, nc)) AS r(i))
        |SELECT doc_id, chunk_idx,
        |  array_to_string(t[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk_text,
        |  CAST(len(t[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT) AS chunk_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "pipeline_pack_sequences" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    // property-style (the pipeline_bpe_tokenize convention): BPE token ids
    // are not SQL-expressible; the packing invariants verify in-plan and
    // the oracle re-derives the document count and pins the booleans
    "pipeline_pack_sequences_bpe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       TRUE AS docs_once_ok, TRUE AS nonlast_bound_ok,
        |       TRUE AS bins_lossless_ok, TRUE AS any_multi_doc_bin
        |FROM documents""".stripMargin,

    "pipeline_sample_hash" ->
      """WITH b AS (
        |  SELECT lang, md5(CAST(doc_id AS VARCHAR) || '|7') AS h FROM documents),
        |v AS (
        |  SELECT lang,
        |   ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |  + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 100 AS bucket
        |  FROM b)
        |SELECT lang, COUNT(*) AS n_sampled FROM v WHERE bucket < 10
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // property-style: float gradient sums are order-dependent, so the
    // trainer gate pins invariants (quantized-model accuracy on the
    // planted separable label) rather than bits
    "pipeline_classifier_train" ->
      """SELECT * FROM (VALUES
        |  ('label_nontrivial', TRUE), ('quantized_accuracy', TRUE),
        |  ('weights_dim', TRUE)) AS t(invariant, ok)
        |ORDER BY invariant""".stripMargin,

    // property-style (the pipeline_classifier_train convention): the
    // one-vs-rest langid trainer's gradient sums are float-order-dependent,
    // so the query verifies the QUANTIZED model's decisions in-plan and
    // the oracle pins the invariants as met
    "text_lang_id_model" ->
      """SELECT * FROM (VALUES
        |  ('classes_present', TRUE), ('model_shape', TRUE),
        |  ('quantized_accuracy', TRUE)) AS t(invariant, ok)
        |ORDER BY invariant""".stripMargin,

    // property-style (like ann_recall_check): BPE is not SQL-expressible —
    // the query verifies losslessness/bounds/compression IN-PLAN from the
    // actual encodings and the oracle pins the invariants as met
    "pipeline_bpe_tokenize" ->
      """SELECT * FROM (VALUES
        |  ('compression_gain', TRUE), ('merges_learned', TRUE),
        |  ('no_unk', TRUE), ('roundtrip_lossless', TRUE),
        |  ('token_bounds', TRUE)) AS t(invariant, ok)
        |ORDER BY invariant""".stripMargin,

    // stupid-backoff LM oracle: DuckDB re-derives the three capped count
    // tables (same deterministic ORDER BY n DESC, g LIMIT) and replays
    // the per-position backoff-level decision — including the closure
    // checks that a kept gram's CONTEXT survived its own cap — so every
    // integer in the engine's level census is independently recomputed
    "text_lm_levels" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (SELECT g, n FROM (
        |    SELECT w AS g, COUNT(*) AS n FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w)
        |  ORDER BY n DESC, g LIMIT 25),
        |bi AS (SELECT g, n FROM (
        |    SELECT g, COUNT(*) AS n FROM (
        |      SELECT array_to_string(t[i:i+1], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t))) AS r(i)) GROUP BY g)
        |  ORDER BY n DESC, g LIMIT 500),
        |tri AS (SELECT g, n FROM (
        |    SELECT g, COUNT(*) AS n FROM (
        |      SELECT array_to_string(t[i:i+2], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)) GROUP BY g)
        |  ORDER BY n DESC, g LIMIT 5000),
        |pos AS (
        |  SELECT doc_id, t[i] AS w,
        |    CASE WHEN i >= 3 THEN array_to_string(t[i-2:i], ' ') END AS tg,
        |    CASE WHEN i >= 3 THEN array_to_string(t[i-2:i-1], ' ') END AS tctx,
        |    CASE WHEN i >= 2 THEN array_to_string(t[i-1:i], ' ') END AS bg,
        |    CASE WHEN i >= 2 THEN t[i-1] END AS bctx
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |lev AS (
        |  SELECT p.doc_id,
        |    CASE WHEN t3.g IS NOT NULL AND bc.g IS NOT NULL THEN 3
        |         WHEN b2.g IS NOT NULL AND uc.g IS NOT NULL THEN 2
        |         WHEN u1.g IS NOT NULL THEN 1 ELSE 0 END AS lvl
        |  FROM pos p
        |  LEFT JOIN tri t3 ON p.tg = t3.g
        |  LEFT JOIN bi bc ON p.tctx = bc.g
        |  LEFT JOIN bi b2 ON p.bg = b2.g
        |  LEFT JOIN uni uc ON p.bctx = uc.g
        |  LEFT JOIN uni u1 ON p.w = u1.g),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_pos,
        |    CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS tri_hits,
        |    CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS bi_hits,
        |    CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uni_hits,
        |    CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unk
        |  FROM lev GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_pos, 0) AS n_pos,
        |  COALESCE(a.tri_hits, 0) AS tri_hits, COALESCE(a.bi_hits, 0) AS bi_hits,
        |  COALESCE(a.uni_hits, 0) AS uni_hits, COALESCE(a.unk, 0) AS unk
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // composed quality gate: the oracle independently rebuilds all three
    // planes — the identical hashed-feature linear model (the
    // text_classifier_score arithmetic), the capped LM count tables with
    // the per-position backoff-level replay (the text_lm_levels CTEs),
    // and the Gopher rule conjunction (the text_gopher_rules CTEs) — and
    // re-derives the integer floors and the final keep conjunction
    "pipeline_quality_filter" ->
      """WITH docsrc AS (
        |  SELECT doc_id, text || ' the data and that it holds' AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM docsrc),
        |cgrams AS (
        |  SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(t))) r(i)),
        |cf AS (
        |  SELECT doc_id,
        |    ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |   + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |   + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |   + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 4096 AS fid
        |  FROM (SELECT doc_id, md5(g) AS h FROM cgrams)),
        |cs AS (SELECT doc_id, SUM((fid * 37) % 201 - 100) AS num FROM cf GROUP BY doc_id),
        |uni AS (SELECT g, n FROM (
        |    SELECT w AS g, COUNT(*) AS n FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w)
        |  ORDER BY n DESC, g LIMIT 25),
        |bi AS (SELECT g, n FROM (
        |    SELECT g, COUNT(*) AS n FROM (
        |      SELECT array_to_string(t[i:i+1], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t))) AS r(i)) GROUP BY g)
        |  ORDER BY n DESC, g LIMIT 500),
        |tri AS (SELECT g, n FROM (
        |    SELECT g, COUNT(*) AS n FROM (
        |      SELECT array_to_string(t[i:i+2], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)) GROUP BY g)
        |  ORDER BY n DESC, g LIMIT 5000),
        |pos AS (
        |  SELECT doc_id, t[i] AS w,
        |    CASE WHEN i >= 3 THEN array_to_string(t[i-2:i], ' ') END AS tg,
        |    CASE WHEN i >= 3 THEN array_to_string(t[i-2:i-1], ' ') END AS tctx,
        |    CASE WHEN i >= 2 THEN array_to_string(t[i-1:i], ' ') END AS bg,
        |    CASE WHEN i >= 2 THEN t[i-1] END AS bctx
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |lev AS (
        |  SELECT p.doc_id,
        |    CASE WHEN t3.g IS NOT NULL AND bc.g IS NOT NULL THEN 3
        |         WHEN b2.g IS NOT NULL AND uc.g IS NOT NULL THEN 2
        |         WHEN u1.g IS NOT NULL THEN 1 ELSE 0 END AS lvl
        |  FROM pos p
        |  LEFT JOIN tri t3 ON p.tg = t3.g
        |  LEFT JOIN bi bc ON p.tctx = bc.g
        |  LEFT JOIN bi b2 ON p.bg = b2.g
        |  LEFT JOIN uni uc ON p.bctx = uc.g
        |  LEFT JOIN uni u1 ON p.w = u1.g),
        |lm AS (
        |  SELECT doc_id, COUNT(*) AS n_pos,
        |    CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS tri_hits,
        |    CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unk
        |  FROM lev GROUP BY doc_id),
        |gbase AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(
        |                regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') END AS w,
        |    list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    (length(text) - length(replace(text, '...', ''))) // 3
        |      + (length(text) - length(replace(text, chr(8230), ''))) AS n_ell
        |  FROM docsrc),
        |gfeat AS (
        |  SELECT id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_w,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> ltrim(l) LIKE chr(8226) || '%'
        |      OR ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS BIGINT) AS bullet_l,
        |    CAST(len(list_filter(lines, l -> rtrim(l) LIKE '%...'
        |      OR rtrim(l) LIKE '%' || chr(8230))) AS BIGINT) AS ell_l,
        |    CAST(len(list_intersect(list_distinct(w),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
        |    n_hash, n_ell
        |  FROM gbase),
        |gop AS (
        |  SELECT id AS doc_id,
        |    (n_words BETWEEN 50 AND 100000)
        |      AND (n_words > 0 AND sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |      AND (n_words > 0 AND (n_hash + n_ell) * 10 <= n_words)
        |      AND (n_lines = 0 OR bullet_l * 10 <= n_lines * 9)
        |      AND (n_lines = 0 OR ell_l * 10 <= n_lines * 3)
        |      AND (n_words > 0 AND alpha_w * 5 >= n_words * 4)
        |      AND (stop_hits >= 2) AS gopher_keep
        |  FROM gfeat)
        |SELECT d.doc_id,
        |  COALESCE(cs.num, 0) > 0 AS cls_keep,
        |  g.gopher_keep,
        |  (COALESCE(lm.n_pos, 0) > 0
        |    AND COALESCE(lm.tri_hits, 0) * 10 >= COALESCE(lm.n_pos, 0) * 3
        |    AND COALESCE(lm.unk, 0) * 20 <= COALESCE(lm.n_pos, 0)) AS lm_keep,
        |  CAST(COALESCE(lm.n_pos, 0) AS BIGINT) AS n_pos,
        |  CAST(COALESCE(lm.tri_hits, 0) AS BIGINT) AS tri_hits,
        |  CAST(COALESCE(lm.unk, 0) AS BIGINT) AS unk,
        |  (COALESCE(cs.num, 0) > 0) AND g.gopher_keep
        |    AND (COALESCE(lm.n_pos, 0) > 0
        |      AND COALESCE(lm.tri_hits, 0) * 10 >= COALESCE(lm.n_pos, 0) * 3
        |      AND COALESCE(lm.unk, 0) * 20 <= COALESCE(lm.n_pos, 0)) AS keep
        |FROM docsrc d
        |LEFT JOIN cs ON d.doc_id = cs.doc_id
        |LEFT JOIN lm ON d.doc_id = lm.doc_id
        |JOIN gop g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // property-style: perplexity is transcendental, the invariants are
    // verified in-plan (see the query); the hash-exact LM surface is
    // text_lm_levels above
    "text_lm_perplexity" ->
      """SELECT * FROM (VALUES
        |  ('garbage_scores_worse', TRUE), ('levels_partition', TRUE),
        |  ('logscore_nonpositive', TRUE), ('perplexity_floor', TRUE),
        |  ('self_train_no_unk', TRUE)) AS t(invariant, ok)
        |ORDER BY invariant""".stripMargin,

    // classifier oracle: DuckDB rebuilds the identical hashed-feature
    // linear model — md5-hex4 feature ids (sample_hash's ascii trick),
    // the same (fid·37) % 201 − 100 weight numerators, and an INTEGER sum
    // divided once by 128, so the double logit is bit-exact in any fold
    // order
    "text_classifier_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
        |bi  AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |        FROM toks, UNNEST(range(1, len(t))) r(i)),
        |grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        |f AS (
        |  SELECT doc_id,
        |    ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |   + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |   + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |   + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 4096 AS fid
        |  FROM (SELECT doc_id, md5(g) AS h FROM grams)),
        |s AS (
        |  SELECT doc_id, COUNT(*) AS n_features,
        |         SUM((fid * 37) % 201 - 100) AS num
        |  FROM f GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_features, 0) AS BIGINT) AS n_features,
        |  CAST(coalesce(s.num, 0) AS DOUBLE) / 128.0 AS logit,
        |  coalesce(s.num, 0) > 0 AS label
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin,

    "text_top_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t))) AS r(i))
        |SELECT sh, COUNT(*) AS n FROM sh GROUP BY sh ORDER BY n DESC, sh LIMIT 20""".stripMargin,

    "text_repetition" ->
      """WITH base AS (SELECT doc_id, string_split_regex(regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS l FROM documents),
        |toks AS (SELECT doc_id, unnest(l) AS t FROM base),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
        |tok AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_frac
        |        FROM tc GROUP BY 1 HAVING sum(c) >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS sh FROM base),
        |bgf AS (SELECT doc_id, 1.0 - CAST(count(DISTINCT sh) AS DOUBLE) / count(*) AS dup_bigram_frac FROM bg GROUP BY 1)
        |SELECT tok.doc_id AS doc_id, top_token_frac, dup_bigram_frac
        |FROM tok JOIN bgf ON tok.doc_id = bgf.doc_id ORDER BY doc_id""".stripMargin,

    // Zipf-surprisal: identical rank/bit-length derivation — bit length of
    // rank r is length(printf('%b', r)) here vs length(conv(rank,10,2)) in
    // Spark, both exactly floor(log2 r)+1; the single final division of
    // identical integers is the only float op, so hashes match exactly.
    // OOV pays bitlen(16)+1 = 6.
    "text_zipf_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |counts AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
        |ranked AS (
        |  SELECT t, length(printf('%b', rn)) AS bits FROM (
        |    SELECT t, CAST(row_number() OVER (ORDER BY c DESC, t ASC) AS INT) AS rn
        |    FROM counts) WHERE rn <= 16),
        |scored AS (
        |  SELECT k.doc_id, COUNT(*) AS n_tokens,
        |         SUM(CASE WHEN r.bits IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |         SUM(COALESCE(r.bits, 6)) AS sum_bits
        |  FROM toks k LEFT JOIN ranked r ON k.t = r.t GROUP BY k.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(n_oov AS BIGINT) AS n_oov,
        |       CAST(sum_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_bits
        |FROM scored ORDER BY doc_id""".stripMargin,

    // the oracle runs the SAME RE2-compatible patterns (with DuckDB's 'g'
    // flag matching Spark's replace-all default)
    "text_pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text || ' contact u' || doc_id || '@example.com ip 10.0.0.' || (doc_id % 256) || ' tel 555-123-4567',
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,

    // property-style (the ann_recall_check convention — zlib output is
    // runtime-deterministic, not a cross-engine contract): the oracle
    // re-derives the doc count and the EXACT UTF-8 byte total (DuckDB
    // strlen is bytes; length is chars) and pins the envelope/
    // discrimination booleans TRUE
    "text_compression_ratio" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(strlen(text)) AS BIGINT) AS raw_bytes_total,
        |       TRUE AS bounds_ok, TRUE AS repetition_discriminates
        |FROM documents""".stripMargin,

    // closed-form re-derivation of the HTML wrap → extract round trip:
    // the page is BUILT from the document, so the extraction must return
    // title line + RE2-\s-collapsed body + anchor texts, with codepoint
    // counts (1 title char + id digits + raw body + 2 per anchor) and one
    // exact IEEE division for the density
    "text_html_extract" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(text, '\s+', ' ', 'g')) AS c,
        |         CAST(doc_id % 4 AS INT) AS k,
        |         1 + length(CAST(doc_id AS VARCHAR)) + length(text) + 2 * (doc_id % 4) AS tc
        |  FROM documents)
        |SELECT doc_id,
        |  'T' || CAST(doc_id AS VARCHAR)
        |    || (CASE WHEN c <> '' THEN chr(10) || c ELSE '' END)
        |    || (CASE WHEN k > 0 THEN chr(10) || repeat('ln', k) ELSE '' END) AS text,
        |  CAST(tc AS INT) AS text_chars,
        |  CAST(2 * k AS INT) AS link_chars,
        |  CAST(k AS INT) AS n_links,
        |  CAST(2 * k AS DOUBLE) / CAST(tc AS DOUBLE) AS link_density
        |FROM t ORDER BY doc_id""".stripMargin,

    // the same three pattern strings the kernel compiled (interpolated
    // from PiiScan's vals — one copy), chained in the same fixed order
    // with counts taken on each stage's input, exactly the kernel's
    // sequential-pass contract
    "text_pii_redact" -> {
      val e  = graft.functions.PiiScan.EmailPattern
      val ip = graft.functions.PiiScan.Ipv4Pattern
      val ph = graft.functions.PiiScan.PhonePattern
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |         '@mail.example.com from 10.' || CAST(doc_id % 300 AS VARCHAR) ||
         |         '.0.1 or (555) 867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |         ' today' AS s
         |  FROM documents),
         |p1 AS (SELECT doc_id,
         |         CAST(length(regexp_extract_all(s, '$e')) AS INT) AS n_email,
         |         regexp_replace(s, '$e', '|||EMAIL_ADDRESS|||', 'g') AS s FROM t0),
         |p2 AS (SELECT doc_id, n_email,
         |         CAST(length(regexp_extract_all(s, '$ip')) AS INT) AS n_ip,
         |         regexp_replace(s, '$ip', '|||IP_ADDRESS|||', 'g') AS s FROM p1),
         |p3 AS (SELECT doc_id, n_email, n_ip,
         |         CAST(length(regexp_extract_all(s, '$ph')) AS INT) AS n_phone,
         |         regexp_replace(s, '$ph', '|||PHONE_NUMBER|||', 'g') AS s FROM p2)
         |SELECT doc_id, s AS text_redacted, n_email, n_ip, n_phone,
         |       n_email + n_ip + n_phone AS pii_total
         |FROM p3 ORDER BY doc_id""".stripMargin
    },

    "pipeline_train_val_split" ->
      """WITH b AS (
        |  SELECT lang, md5(lang || '|' || CAST(doc_id AS VARCHAR) || '|42') AS h FROM documents),
        |v AS (
        |  SELECT lang,
        |   ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |  + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 100 AS bucket
        |  FROM b)
        |SELECT lang,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n
        |FROM v GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    // DSIR bucket histograms re-derived from scratch: the shared gram/
    // bucket CTE plane (one definition across the three dsir gates) +
    // a per-slice count tail
    "pipeline_dsir_weights" -> (dsirGramCtes + "\n" +
      """SELECT CAST(b AS INT) AS bucket,
        |  CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS target_cnt,
        |  CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS raw_cnt
        |FROM gb GROUP BY b ORDER BY bucket""".stripMargin),

    // DSIR selection re-derived end-to-end: per-gram log-ratio weights from
    // the count tables (same add-1 formula, same exact-integer ln args),
    // per-doc score = ORDERED list_reduce fold in the kernel's interleaved
    // walk order (u1, u2, b12, u3, b23, … — left-to-right float sums are
    // the only cross-engine-deterministic ones; ln itself is bit-identical,
    // the bm25 precedent), rank by (score DESC, doc_id) — the gate hashes
    // ranks + integer gram counts, the score stays out
    "pipeline_dsir_select" -> (dsirScoreCtes + ",\n" +
      """rk AS (
        |  SELECT row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank, doc_id, n_grams
        |  FROM allr)
        |SELECT CAST(rank AS INT) AS rank, doc_id, n_grams
        |FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // Gumbel-top-k sampling: the select oracle's score plane plus the
    // seeded-md5 noise — u = (hex4(md5('gumbel|42|'||id)) + 0.5)/65536,
    // g = −ln(−ln u), rank on (s + g) DESC
    "pipeline_dsir_sample" -> (dsirScoreCtes + ",\n" +
      """gum AS (
        |  SELECT doc_id, n_grams, s,
        |    ((CASE WHEN ascii(substr(gh,1,1)) >= 97 THEN ascii(substr(gh,1,1))-87 ELSE ascii(substr(gh,1,1))-48 END) * 4096
        |   + (CASE WHEN ascii(substr(gh,2,1)) >= 97 THEN ascii(substr(gh,2,1))-87 ELSE ascii(substr(gh,2,1))-48 END) * 256
        |   + (CASE WHEN ascii(substr(gh,3,1)) >= 97 THEN ascii(substr(gh,3,1))-87 ELSE ascii(substr(gh,3,1))-48 END) * 16
        |   + (CASE WHEN ascii(substr(gh,4,1)) >= 97 THEN ascii(substr(gh,4,1))-87 ELSE ascii(substr(gh,4,1))-48 END)) AS v4
        |  FROM (SELECT doc_id, n_grams, s,
        |          md5('gumbel|42|' || CAST(doc_id AS VARCHAR)) AS gh FROM allr)),
        |rk AS (
        |  SELECT row_number() OVER (
        |      ORDER BY s + (- ln(- ln((CAST(v4 AS DOUBLE) + 0.5) / 65536.0))) DESC,
        |               doc_id ASC) AS rank,
        |    doc_id, n_grams
        |  FROM gum)
        |SELECT CAST(rank AS INT) AS rank, doc_id, n_grams
        |FROM rk WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // weights as quoted-varchar→double casts: DuckDB decimal literals would
    // run the n/w arithmetic in DECIMAL, diverging from Spark's double math
    "pipeline_mixture_sample" ->
      """WITH w(lang, wt) AS (VALUES
        |  ('en', CAST('0.40' AS DOUBLE)), ('de', CAST('0.15' AS DOUBLE)),
        |  ('es', CAST('0.15' AS DOUBLE)), ('fr', CAST('0.15' AS DOUBLE)),
        |  ('zh', CAST('0.15' AS DOUBLE))),
        |c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |j AS (SELECT c.lang, n, wt FROM c JOIN w USING (lang)),
        |t AS (SELECT lang, n, wt, min(n / wt) OVER () AS t FROM j),
        |thr AS (SELECT lang, CAST(floor(wt * t / n * 65536) AS BIGINT) AS thr FROM t),
        |b AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || '|42') AS h FROM documents),
        |v AS (SELECT doc_id, lang,
        |   ((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |  + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) AS hv
        |  FROM b)
        |SELECT v.doc_id AS doc_id, v.lang AS lang
        |FROM v JOIN thr ON v.lang = thr.lang
        |WHERE hv < thr ORDER BY lang, doc_id""".stripMargin,

    // zipf bucket (same derivation as text_zipf_surprisal) + the
    // shuffle_shards md5-prefix arithmetic, ordered bucket-major per shard
    "pipeline_curriculum" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |counts AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
        |ranked AS (
        |  SELECT t, length(printf('%b', rn)) AS bits FROM (
        |    SELECT t, CAST(row_number() OVER (ORDER BY c DESC, t ASC) AS INT) AS rn
        |    FROM counts) WHERE rn <= 16),
        |scored AS (
        |  SELECT k.doc_id, COUNT(*) AS n_tokens, SUM(COALESCE(r.bits, 6)) AS sum_bits
        |  FROM toks k LEFT JOIN ranked r ON k.t = r.t GROUP BY k.doc_id),
        |z AS (SELECT doc_id,
        |        CAST(floor(CAST(sum_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS bucket
        |      FROM scored),
        |b AS (SELECT doc_id, bucket, md5(CAST(doc_id AS VARCHAR) || '|42') AS h FROM z),
        |v AS (
        |  SELECT doc_id, bucket, h,
        |   CAST(((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |  + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 4 AS BIGINT) AS shard
        |  FROM b)
        |SELECT doc_id, bucket, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY bucket, h, doc_id) AS BIGINT) AS pos
        |FROM v ORDER BY doc_id""".stripMargin,

    "pipeline_snapshot_delta" ->
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |new AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |        FROM documents WHERE doc_id % 11 <> 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS id, md5(o.text) AS oh, md5(n.text) AS nh
        |      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT id AS doc_id,
        |       CASE WHEN oh IS NULL THEN 'added' WHEN nh IS NULL THEN 'removed'
        |            WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,

    "pipeline_shuffle_shards" ->
      """WITH b AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|42') AS h FROM documents),
        |v AS (
        |  SELECT doc_id, h,
        |   CAST(((CASE WHEN ascii(substr(h,1,1)) >= 97 THEN ascii(substr(h,1,1))-87 ELSE ascii(substr(h,1,1))-48 END) * 4096
        |  + (CASE WHEN ascii(substr(h,2,1)) >= 97 THEN ascii(substr(h,2,1))-87 ELSE ascii(substr(h,2,1))-48 END) * 256
        |  + (CASE WHEN ascii(substr(h,3,1)) >= 97 THEN ascii(substr(h,3,1))-87 ELSE ascii(substr(h,3,1))-48 END) * 16
        |  + (CASE WHEN ascii(substr(h,4,1)) >= 97 THEN ascii(substr(h,4,1))-87 ELSE ascii(substr(h,4,1))-48 END)) % 8 AS BIGINT) AS shard
        |  FROM b)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM v ORDER BY shard, pos""".stripMargin,

    "multimodal_resize" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars % 1920 + 1 AS w, (n_chars * 7) % 1080 + 1 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((w * 224) // greatest(w, h) AS INT) AS out_w,
        |  CAST((h * 224) // greatest(w, h) AS INT) AS out_h,
        |  CAST(224 AS INT) AS scale_num,
        |  CAST(greatest(w, h) AS BIGINT) AS scale_den
        |FROM d ORDER BY doc_id""".stripMargin,

    // Real-container image metadata: the engine parses dims out of actual
    // encoded PNG/JPEG/GIF/BMP bytes; the oracle re-derives the SAME values
    // from the doc_id arithmetic the fixture encoder used
    // (harness/ImageFixture.scala) — the two agree only when the header
    // parse recovers exactly what the encoder wrote
    "multimodal_image_meta" ->
      """WITH m AS (
        |  SELECT doc_id AS id,
        |    CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |         WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
        |    CAST((doc_id * 7) % 120 + 16 AS INT) AS width,
        |    CAST((doc_id * 13) % 90 + 16 AS INT) AS height,
        |    CAST(CASE doc_id % 4
        |      WHEN 0 THEN CASE WHEN (doc_id // 4) % 2 = 0 THEN 3 ELSE 4 END
        |      WHEN 1 THEN CASE WHEN (doc_id // 4) % 2 = 0 THEN 3 ELSE 1 END
        |      ELSE 3 END AS INT) AS channels
        |  FROM documents)
        |SELECT id, format, width, height, channels,
        |  CAST((width * 224) // greatest(width, height) AS INT) AS out_w,
        |  CAST((height * 224) // greatest(width, height) AS INT) AS out_h
        |FROM m ORDER BY id""".stripMargin,

    // audio facts re-derived from the clip_id arithmetic the fixture
    // encoder used; duration is integer division (frames·1000 // rate)
    "multimodal_audio_meta" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |  CAST((doc_id // 2) % 2 + 1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(doc_id % 100 + 50 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 100 + 50) * 1000 // (8000 + (doc_id % 4) * 4000) AS BIGINT)
        |    AS duration_ms
        |FROM documents ORDER BY id""".stripMargin,

    // video facts re-derived from the clip_id arithmetic the fixture
    // encoder used; duration is integer division (units·1000 // timescale)
    "multimodal_video_meta" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 + (doc_id % 5) * 100 AS INT) AS timescale,
        |  CAST((doc_id % 500 + 120) * 1000 // (600 + (doc_id % 5) * 100) AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CAST(1 AS INT) AS video_tracks,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS audio_tracks,
        |  CAST((doc_id * 7) % 320 + 16 AS INT) AS width,
        |  CAST((doc_id * 13) % 240 + 16 AS INT) AS height
        |FROM documents ORDER BY id""".stripMargin,

    // Pixel-plane aHash re-derived from first principles: the fixture's
    // pixel function is (x·31 + y·17 + id) & 0xffffff and png/bmp encode
    // losslessly, so DuckDB regenerates every pixel, folds the same
    // BT.601 integer luma into the same 8×8 floor-division cells, and
    // must reproduce the engine's 64-bit string exactly.
    "multimodal_phash" ->
      """WITH imgs AS (
        |  SELECT doc_id AS id,
        |         CAST((doc_id * 7) % 120 + 16 AS BIGINT) AS w,
        |         CAST((doc_id * 13) % 90 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 4 IN (0, 3)),
        |xs AS (
        |  SELECT id, w, h, unnest(generate_series(0, w - 1)) AS x FROM imgs),
        |px AS (
        |  SELECT id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |lum AS (
        |  SELECT id, (y * 8) // h * 8 + (x * 8) // w AS cell,
        |         299 * ((((x*31 + y*17 + id) & 16777215) >> 16) & 255)
        |       + 587 * ((((x*31 + y*17 + id) & 16777215) >> 8) & 255)
        |       + 114 * (((x*31 + y*17 + id) & 16777215) & 255) AS l
        |  FROM px),
        |cells AS (
        |  SELECT id, cell, SUM(l) // COUNT(*) AS t FROM lum GROUP BY id, cell),
        |tot AS (
        |  SELECT id, SUM(t) AS total FROM cells GROUP BY id)
        |SELECT c.id AS id,
        |       string_agg(CASE WHEN 64 * c.t > t2.total THEN '1' ELSE '0' END,
        |                  '' ORDER BY c.cell) AS phash_bits
        |FROM cells c JOIN tot t2 USING (id)
        |GROUP BY c.id ORDER BY id""".stripMargin,

    // Real decode→featurize re-derived from first principles: png/bmp
    // encode losslessly, so DuckDB regenerates every pixel from the
    // fixture formula, folds the same integer sums, and must reproduce
    // all 8 feature doubles exactly (each mean is one IEEE division of
    // exact integers on both engines).
    "multimodal_decode_features" ->
      """WITH imgs AS (
        |  SELECT doc_id AS id,
        |         CAST((doc_id * 7) % 120 + 16 AS BIGINT) AS w,
        |         CAST((doc_id * 13) % 90 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 4 IN (0, 3)),
        |xs AS (SELECT id, w, h, unnest(generate_series(0, w - 1)) AS x FROM imgs),
        |px AS (SELECT id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |lum AS (
        |  SELECT id, w, h,
        |         (((x*31 + y*17 + id) & 16777215) >> 16) & 255 AS r,
        |         (((x*31 + y*17 + id) & 16777215) >> 8) & 255 AS g,
        |         ((x*31 + y*17 + id) & 16777215) & 255 AS b,
        |         299 * ((((x*31 + y*17 + id) & 16777215) >> 16) & 255)
        |       + 587 * ((((x*31 + y*17 + id) & 16777215) >> 8) & 255)
        |       + 114 * (((x*31 + y*17 + id) & 16777215) & 255) AS l
        |  FROM px),
        |agg AS (
        |  SELECT id, MAX(w) AS w, MAX(h) AS h, COUNT(*) AS n,
        |         CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |         CAST(SUM(b) AS BIGINT) AS sb, CAST(SUM(l) AS BIGINT) AS sl,
        |         CAST(MAX(l) - MIN(l) AS BIGINT) AS rng
        |  FROM lum GROUP BY id),
        |br AS (
        |  SELECT lum.id AS id, COUNT(*) FILTER (WHERE lum.l * agg.n > agg.sl) AS nb
        |  FROM lum JOIN agg ON lum.id = agg.id GROUP BY lum.id)
        |SELECT a.id AS id,
        |       CAST(a.w AS DOUBLE) AS f_w, CAST(a.h AS DOUBLE) AS f_h,
        |       CAST(a.sr AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_r,
        |       CAST(a.sg AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_g,
        |       CAST(a.sb AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_b,
        |       CAST(a.sl AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_luma,
        |       CAST(a.rng AS DOUBLE) AS f_luma_range,
        |       CAST(br.nb AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_bright
        |FROM agg a JOIN br ON a.id = br.id ORDER BY id""".stripMargin,

    // Full 5-stage corpus-clean audit: quality gate, (no-op) lang gate,
    // exact dedup, then near-dedup = exact-jaccard pairs ≥ 0.8 → connected
    // components via a recursive transitive closure → keep cluster minima.
    "pipeline_clean_corpus" ->
      """WITH RECURSIVE q AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 10
        |    AND CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |         / CAST(length(text) AS DOUBLE) >= 0.5),
        |ex AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q)
        |  WHERE rn = 1),
        |toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t FROM ex),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |ix AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM ix JOIN sizes sa ON ix.id_a = sa.doc_id JOIN sizes sb ON ix.id_b = sb.doc_id
        |  WHERE CAST(cnt AS DOUBLE) / CAST(sa.n + sb.n - cnt AS DOUBLE) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |labels AS (SELECT a AS id, least(a, MIN(b)) AS label FROM reach GROUP BY a),
        |losers AS (SELECT id FROM labels WHERE label < id),
        |nd AS (SELECT doc_id FROM ex WHERE doc_id NOT IN (SELECT id FROM losers))
        |SELECT stage, n_rows FROM (
        |  SELECT 'input' AS stage, (SELECT COUNT(*) FROM documents) AS n_rows
        |  UNION ALL SELECT 'quality', (SELECT COUNT(*) FROM q)
        |  UNION ALL SELECT 'lang', (SELECT COUNT(*) FROM q)
        |  UNION ALL SELECT 'exact_dedup', (SELECT COUNT(*) FROM ex)
        |  UNION ALL SELECT 'near_dedup', (SELECT COUNT(*) FROM nd))
        |ORDER BY stage""".stripMargin,
  )
}
