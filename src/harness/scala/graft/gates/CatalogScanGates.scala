package graft
package gates

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.harness.PipelineDemo

import Tag._

/** Catalog scans and asset decode (SURVEY §2 #1-4): parquet/csv/esmcat
  * tables, kerchunk references, zarr v2/v3 stores, netCDF-3/4, OPeNDAP, and
  * the zarr and kerchunk sinks, with the fixture writers their inputs come
  * from. */
object CatalogScanGates extends GateFamily {

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

  // ===== catalog scans & decode (SURVEY §2 #1-4) =====

  gate("scan_catalog_parquet")((s, dir) => {
      CatalogReader.readAssetTable(s, s"$dir/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    },
    oracle = "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id")

  gate("scan_catalog_csv")((s, dir) => {
      val out = ensureCsvFixture(s, dir)
      CatalogReader.readAssetTable(s, out) // header csv, strings (infer_schema=false)
        .select("r_regionkey", "r_name")
        .orderBy(col("r_regionkey").cast(IntegerType))
    },
    oracle = "SELECT CAST(r_regionkey AS VARCHAR) AS r_regionkey, r_name FROM region ORDER BY CAST(r_regionkey AS INT)")

  gate("scan_catalog_esmcat")((s, dir) => {
      // the esmcat data source: descriptor + asset index as one relation
      val json = PipelineDemo.ensureCatalog(s, dir)
      s.read.format("esmcat").load(json)
        .select("status", "member", "year", "variable")
        .orderBy("status", "member", "year", "variable")
    },
    oracle = """SELECT o_orderstatus AS status, o_orderpriority AS member,
        | CAST(year(o_orderdate) AS VARCHAR) AS year, v.variable
        | FROM (SELECT DISTINCT o_orderstatus, o_orderpriority, o_orderdate FROM orders
        |       WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
        |         AND year(o_orderdate) BETWEEN 1995 AND 1996) o
        | CROSS JOIN (VALUES ('totalprice'), ('custkey')) AS v(variable)
        | GROUP BY 1, 2, 3, 4
        | ORDER BY status, member, year, variable""".stripMargin)

  gate("scan_kerchunk_reference", Headline, Shared)((s, _) => {
      // kerchunk reference:// catalog plane: the index the reference feeds
      // xarray's zarr engine (source.py:82-86), shredded to a chunk map via
      // VariantType. Byte-range DECODE stays behind the connector boundary;
      // enumeration/location is fully oracle-checkable (DuckDB walks the
      // same JSON).
      graft.sources.KerchunkIndex
        .read(s, "/root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json")
        .select("key", "variable", "kind", "url", "offset", "length")
        .orderBy("key")
    },
    oracle = """WITH t AS (SELECT content FROM read_text('/root/reference/tests/sample_data/kerchunk-files/noaa-nwm-test-reference.json')),
        |k AS (SELECT unnest(json_keys(content, '$.refs')) AS key, content FROM t),
        |e AS (SELECT key, json_extract(content, '$.refs."' || key || '"') AS value FROM k)
        |SELECT key,
        | CASE WHEN strpos(key, '/') > 0 THEN regexp_replace(key, '/[^/]*$', '') ELSE '' END AS variable,
        | CASE WHEN regexp_extract(key, '[^/]*$') LIKE '.%' THEN 'meta'
        |      WHEN json_type(value) = 'ARRAY' THEN 'ref' ELSE 'inline' END AS kind,
        | CASE WHEN json_type(value) = 'ARRAY' THEN value->>0 END AS url,
        | CASE WHEN json_type(value) = 'ARRAY' THEN TRY_CAST(value->>1 AS BIGINT) END AS "offset",
        | CASE WHEN json_type(value) = 'ARRAY' THEN TRY_CAST(value->>2 AS BIGINT) END AS length
        |FROM e ORDER BY key""".stripMargin)

  gate("load_kerchunk_chunks")((s, _) => {
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
    },
    // Same byte ranges read independently: read_blob on the target file,
    // hex, then 1-based substring at (offset*2+1, length*2); inline entries
    // re-derived with encode/from_base64. VALUES mirrors the fixture index
    // (ensureKerchunkFixture — fixed content).
    oracle = """WITH blob AS (SELECT hex(content) AS h
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
        |FROM refs ORDER BY key""".stripMargin)

  gate("load_kerchunk_typed")((s, _) => {
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
    },
    // formula re-derivation (ensureZarrFixture writes chunks FROM these
    // formulas): decode correctness = the values round-tripping through
    // zlib/gzip bytes back to the exact same doubles. All steps are 0.25/0.5
    // multiples — exact in f4/f8, so no float fuzz.
    oracle = """WITH vals AS (
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
        |ORDER BY variable, chunk, idx""".stripMargin)

  gate("load_kerchunk_coords")((s, _) => {
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
    },
    // coordinate re-derivation: the fixture writes value = y*100+x (grid)
    // and 3i-5 (vec) AT each coordinate, so the oracle reconstructs the
    // whole labeled output from range() cross joins alone — agreement means
    // chunk-grid math, C-order strides, AND edge-padding drop are all right
    oracle = """WITH grid AS (
        |  SELECT 'grid' AS variable, 'y.x' AS dims,
        |         CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR) AS coord_key,
        |         CAST(r * 100 + c AS DOUBLE) AS value
        |  FROM range(5) t(r) CROSS JOIN range(7) u(c)
        |  UNION ALL
        |  SELECT 'vec', 'dim0', CAST(i AS VARCHAR), CAST(i * 3 - 5 AS DOUBLE)
        |  FROM range(10) t(i))
        |SELECT variable, dims, coord_key, value FROM grid
        |ORDER BY variable, value""".stripMargin)

  gate("scan_kerchunk_templated")((s, _) => {
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
    },
    // the v1 templates/gen expansion re-derived from the SAME spec
    // semantics in SQL: range products for the gen dimensions, the spec's
    // arithmetic offset formulas, the rendered template URL as a literal,
    // and the shadowed static gen/0 ref ABSENT (gen overrides refs)
    oracle = """WITH meta(key, variable) AS (VALUES
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
        |SELECT key, variable, kind, url, "offset", length FROM rows ORDER BY key""".stripMargin)

  private val loadKerchunkTemplated = gate("load_kerchunk_templated")((s, _) => {
      // the templated index decoded to typed values: the generated refs'
      // byte ranges land on the v_k = 5k - 7 store, so value agreement
      // proves the rendered urls/offsets point where the spec says
      val idx     = ensureKerchunkTemplatedFixture()
      val entries = graft.sources.KerchunkIndex.read(s, idx)
      graft.sources.KerchunkIndex.decodeTyped(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries))
        .orderBy("variable", "chunk", "idx")
    },
    // value re-derivation from the store formula v_k = 5k - 7 at the
    // offsets the gen templates compute: agreement proves the rendered
    // urls/offsets land the byte ranges exactly where the v1 spec says
    oracle = """WITH vals AS (
        |  SELECT 'gen' AS variable, CAST(c AS VARCHAR) AS chunk, CAST(j AS INT) AS idx,
        |         CAST(33 + 20 * c + 5 * j AS DOUBLE) AS value
        |  FROM range(4) a(c) CROSS JOIN range(4) b(j)
        |  UNION ALL
        |  SELECT 'grid', CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR), CAST(j AS INT),
        |         CAST(113 + 20 * (r * 2 + c) + 5 * j AS DOUBLE)
        |  FROM range(2) a(r) CROSS JOIN range(2) b(c) CROSS JOIN range(4) d(j)
        |  UNION ALL
        |  SELECT 'solo', '0', CAST(j AS INT), CAST(5 * j - 7 AS DOUBLE) FROM range(4) t(j))
        |SELECT variable, chunk, idx, value FROM vals ORDER BY variable, chunk, idx""".stripMargin)

  private val combineKerchunkIndexes = gate("combine_kerchunk_indexes")((s, _) => {
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
    },
    // coordinate re-derivation from the combine fixture's closed forms
    // (t2m = 10t + x over the concatenated global time 0..10, lat = 100x,
    // ragged-tail padding dropped): agreement proves source ordering,
    // chunk-key shifting, combined-shape synthesis AND the identical-var
    // passthrough end to end
    oracle = """WITH v AS (
        |  SELECT 't2m' AS variable, 'time.x' AS dims,
        |         CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(t * 10 + x AS DOUBLE) AS value
        |  FROM range(11) a(t) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'time', 'time', CAST(t AS VARCHAR), CAST(t AS DOUBLE) FROM range(11) t(t)
        |  UNION ALL
        |  SELECT 'lat', 'x', CAST(x AS VARCHAR), CAST(100 * x AS DOUBLE) FROM range(3) t(x))
        |SELECT variable, dims, coord_key, value FROM v
        |ORDER BY variable, coord_key""".stripMargin)

  gate("combine_kerchunk_by_coords")((s, _) => {
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
    },
    // SAME oracle as the index-ordered combine: the coordinate-ordered
    // mode (scrambled inputs) must be invisible to every decoded cell
    oracle = combineKerchunkIndexes.sql)

  gate("save_kerchunk_parquet_refs")((s, dir) => {
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
    },
    // SAME oracle as the JSON-form templated gate: the JSON→parquet-refs
    // migration must be invisible to every decoded cell
    oracle = loadKerchunkTemplated.sql)

  gate("append_kerchunk_parquet_refs")((s, dir) => {
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
    },
    // SAME oracle again: store-then-append must decode exactly the
    // one-shot combine of all three sources
    oracle = combineKerchunkIndexes.sql)

  gate("scan_kerchunk_parquet_refs")((s, _) => {
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
    },
    // the parquet-store entry map re-derived row by row: record-file row
    // positions → C-order chunk keys, inline/byte-range/whole-file kinds,
    // and the missing (all-null) chunk ABSENT. Meta rows carry their
    // consolidated JSON inline (has_inline true).
    oracle = """WITH rows(key, kind, url, o, l, has_inline) AS (VALUES
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
        |FROM rows ORDER BY key""".stripMargin)

  gate("load_kerchunk_parquet")((s, _) => {
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
    },
    // coordinate re-derivation from the fixture's value formulas
    // (0.5t - 2 exact in f8, 10y + x, 6j + 7): agreement proves record-file
    // row addressing, inline/range/whole-file materialization, padding drop
    // AND the missing-chunk drop end to end through openAsset('reference')
    oracle = """WITH vals AS (
        |  SELECT 'flag' AS variable, 'y.x' AS dims,
        |         CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(y * 10 + x AS DOUBLE) AS value
        |  FROM range(2) a(y) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'note', 'dim0', CAST(j AS VARCHAR), CAST(6 * j + 7 AS DOUBLE) FROM range(2) t(j)
        |  UNION ALL
        |  SELECT 'temp', 't', CAST(g AS VARCHAR), CAST(g AS DOUBLE) * 0.5 - 2.0 FROM range(10) t(g))
        |SELECT variable, dims, coord_key, value FROM vals
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_zarr_store")((s, _) => {
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
    },
    // coordinate re-derivation from the fixture's value formulas (t*10+x,
    // i*i) — agreement proves store enumeration, chunk-grid math, and
    // edge-padding drop end to end through the openAsset dispatch
    oracle = """WITH g AS (
        |  SELECT 't2m' AS variable, 't.x' AS dims,
        |         CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |         CAST(t * 10 + x AS DOUBLE) AS value
        |  FROM range(2) a(t) CROSS JOIN range(3) b(x)
        |  UNION ALL
        |  SELECT 'step', 'dim0', CAST(i AS VARCHAR), CAST(i * i AS DOUBLE)
        |  FROM range(4) t(i))
        |SELECT variable, dims, coord_key, value FROM g
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_zarr_v3")((s, _) => {
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
    },
    // coordinate re-derivation from the v3 fixture's value formulas
    // (t*100+x over the gzip int32 grid, i*0.5-1 over the raw f8 vector,
    // i*2.5+1 over the zstd f4 vector — all exactly representable in f4) —
    // agreement proves v3 metadata translation, both chunk-key encodings,
    // and the gzip AND zstd codec chains end to end
    oracle = """WITH g AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_zarr_transpose")((s, _) => {
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
    },
    oracle = """WITH g AS (
        |  SELECT 'fm' AS variable, 'dim0.dim1' AS dims,
        |         CAST(r AS VARCHAR) || '.' || CAST(c AS VARCHAR) AS coord_key,
        |         CAST(r * 10 + c AS DOUBLE) AS value
        |  FROM range(2) a(r) CROSS JOIN range(3) b(c)
        |  UNION ALL
        |  SELECT 'mat', 't.x', CAST(t AS VARCHAR) || '.' || CAST(x AS VARCHAR),
        |         CAST(t * 100 + x AS DOUBLE)
        |  FROM range(2) u(t) CROSS JOIN range(3) v(x))
        |SELECT variable, dims, coord_key, value FROM g
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_zarr_nested")((s, _) => {
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
    },
    // the full 5x6 grid minus the deliberately-omitted inner chunk's 2x2
    // footprint (rows 2-3 x cols 2-3); padded/edge-missing cells never
    // existed in the array so the range join covers them by construction
    oracle = """SELECT 'v' AS variable, 'y.x' AS dims,
        |       CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |       CAST(y * 10 + x AS DOUBLE) AS value
        |FROM range(4) a(y) CROSS JOIN range(8) b(x)
        |WHERE NOT (y BETWEEN 2 AND 3 AND x BETWEEN 6 AND 7)
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_zarr_sharded")((s, _) => {
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
    },
    oracle = """SELECT 'temp' AS variable, 'y.x' AS dims,
        |       CAST(y AS VARCHAR) || '.' || CAST(x AS VARCHAR) AS coord_key,
        |       CAST(y * 10 + x AS DOUBLE) AS value
        |FROM range(5) a(y) CROSS JOIN range(6) b(x)
        |WHERE NOT (y BETWEEN 2 AND 3 AND x BETWEEN 2 AND 3)
        |ORDER BY variable, coord_key""".stripMargin)

  private val loadNetcdf3 = gate("load_netcdf3")((s, _) => {
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
    },
    // values pinned from an INDEPENDENT python struct-level parse of the
    // reference's own CMIP5 classic-netCDF sample (the only CDF-format file
    // in its test data): header walk + big-endian struct.unpack, no shared
    // code with the Scala reader. 87 rows = every numeric element of every
    // variable, with dimension labels and global coordinates.
    oracle = """SELECT variable, dims, coord_key, CAST(value AS DOUBLE) AS value FROM (VALUES
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_netcdf_tar")((s, _) => {
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
    },
    // SAME pinned values as load_netcdf3 — load_netcdf_tar reads the same
    // file as a tar member, so any tar-framing error (offset shift, member
    // misresolution) breaks the hash while the oracle stays authoritative
    oracle = loadNetcdf3.sql)

  gate("load_catalog_opendap")((s, dir) => {
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
    },
    // reference's own CESM-LE netCDF-4 (HDF5) sample: values pinned by an
    // independent python struct/zlib parse of the same container (byte
    // shuffle + deflate inverted by hand), no shared code with the Scala
    // reader. 73 rows = every element of five variables covering f8/f4/i4
    // dtypes, chunked+filtered and contiguous layouts, and a scalar.
    // per-(member, variable) stats over the DAP2-served arrays, recomputed
    // from the same nation/region parquet; member is the join_new-stamped
    // string coordinate
    oracle = """WITH m AS (SELECT 1 AS member UNION ALL SELECT 2),
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
        |GROUP BY 1, 2 ORDER BY member, variable""".stripMargin)

  gate("load_opendap")((s, dir) => {
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
    },
    oracle = """WITH nk AS (SELECT n_nationkey, n_regionkey,
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
        |) ORDER BY variable, coord_key""".stripMargin)

  private val saveZarrRoundtrip = gate("save_zarr_roundtrip", Headline)((s, dir) => {
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
    },
    // every value recomputed from the same nation/region parquet the
    // fixture server encodes — the wire (XDR counts, Int16 promotion, Byte
    // packing, IEEE big-endian) must be perfectly transparent
    // the sink round trip re-derives from the same parquet the tidy plane
    // was built from — coord = rank-1 in key order on each axis
    oracle = """WITH nk AS (SELECT n_nationkey AS k, n_regionkey AS rgk, n_name,
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("save_zarr_v3_roundtrip", Headline)((s, dir) => {
      // r11: the zarr v3 SINK with sharding_indexed — the same tidy plane
      // as save_zarr_roundtrip (shared builder), written as a v3 store
      // whose objects pack 2 inner chunk bands each behind a crc32c'd
      // trailing index, read back through the engine's own v3 + sharding
      // reader. The v2 oracle is REFERENCED (not copied) by this gate —
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
    },
    // SAME oracle as the v2 sink gate — both round trips write the shared
    // tidy plane (zarrTidyPlane), so the format swap must be invisible
    oracle = saveZarrRoundtrip.sql)

  gate("save_zarr_v3_blosc")((s, dir) => {
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
    },
    // SAME oracle again for the blosc arm (r14): one more execution-form
    // twin of the identical tidy plane — codec choice must be invisible
    oracle = saveZarrRoundtrip.sql)

  gate("save_zarr_filters_roundtrip")((s, dir) => {
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
    },
    // the filtered store's cells re-derive from nation; the filter chain
    // must be invisible to every decoded value
    oracle = """WITH nk AS (SELECT n_nationkey AS k,
        |              ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1 AS i FROM nation)
        |SELECT variable, dims, coord_key, value, label FROM (
        |  SELECT 't_mono' AS variable, 'nation' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(1000000 + k * 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM nk
        |  UNION ALL
        |  SELECT 't_wide', 'nation', CAST(i AS VARCHAR),
        |         CAST(k * 1000 - 9000 AS DOUBLE), NULL FROM nk)
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_labels")((s, dir) => {
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
    },
    // the decoded String labels re-derive from the same region parquet the
    // fixture server reads; coord = position in r_regionkey order
    oracle = """SELECT 'r_name' AS variable, 'region' AS dims,
        |       CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) - 1 AS VARCHAR) AS coord_key,
        |       r_name AS label
        |FROM region ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_struct")((s, _) => {
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
    },
    // closed-form regeneration of the Structure fixture: the dotted
    // variable names ARE the expected surface (pydap flattening), and
    // every value is a range() formula
    oracle = """WITH v AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq")((s, _) => {
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
    },
    // closed-form regeneration of the Sequence fixture: per-member tidy
    // rows over the record index; station's lengths (2..5) exercised every
    // XDR pad width on the wire, depth goes negative at i = 0
    oracle = """WITH v AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_proj")((s, _) => {
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
    },
    // the projected surface: load_opendap_seq's rows minus the member the
    // constraint never requested
    oracle = """WITH v AS (
        |  SELECT 'cast.depth' AS variable, 'cast' AS dims, CAST(i AS VARCHAR) AS coord_key,
        |         CAST(7 * i - 3 AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS label
        |  FROM range(6) t(i)
        |  UNION ALL
        |  SELECT 'cast.station', 'cast', CAST(i AS VARCHAR), CAST(NULL AS DOUBLE),
        |         repeat('x', CAST(i % 4 AS INT) + 1) || CAST(i AS VARCHAR) FROM range(6) t(i))
        |SELECT variable, dims, coord_key, value, label FROM v
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_sel")((s, _) => {
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
    },
    // the selected surface: the server applies both relational predicates
    // over the closed-form records, then numbers the survivors 0..n-1 —
    // row_number() over the kept range() rows IS that renumbering
    oracle = """WITH k AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_nested")((s, _) => {
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
    },
    oracle = """WITH o AS (SELECT i FROM range(4) t(i)),
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_nested_sel")((s, _) => {
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
    },
    // both levels of the nested fixture under both selection levels:
    // outer keeps station>100 (i>=1, renumbered r), inner keeps
    // o2 = 2.5+0.5(i+j) >= 4.0 within each kept outer (renumbered jr);
    // i=3 keeps ZERO inner records (count 0) — present on the outer
    // plane, absent from the inner one
    oracle = """WITH o AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_deep")((s, _) => {
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
    },
    // three-level closed forms regenerated from range() cross joins; the
    // dims string is the '.'-joined chain of enclosing sequence paths
    oracle = """WITH o AS (SELECT i FROM range(4) t(i)),
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_deep_sel")((s, _) => {
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
    },
    // the same closed forms filtered at every level and RENUMBERED
    // post-filter per level (the server numbers records after selection)
    oracle = """WITH o AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_array")((s, _) => {
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
    },
    // struct-wrapped sequence: closed forms with post-filter renumbering
    // (d > 1 drops record 0), all under the dotted obs.cast name
    // r16 array members: the same closed forms under the station > 100
    // selection (record 0 dropped, records renumbered r = i − 1); array
    // element coords regenerate from range() cross joins, dims carry the
    // member-qualified declared dim names
    oracle = """WITH o AS (SELECT i, i - 1 AS r FROM range(4) t(i) WHERE 100 + 7 * i > 100),
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_opendap_seq_in_struct")((s, _) => {
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
    },
    oracle = """WITH o AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_netcdf_glob")((s, _) => {
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
    },
    // the glob collection = file 1's 87 rows (the load_netcdf3 oracle,
    // reused verbatim) + file 2's 56 time-carrying rows injected into the
    // same VALUES table — nested concat must add exactly those rows and
    // touch nothing else
    oracle = {
      val marker = "\n) AS t(variable"
      val sql = loadNetcdf3.sql.replace(marker, ",\n" + cmip5File2Rows + marker)
      require(sql.length > loadNetcdf3.sql.length,
        "load_netcdf3 oracle shape changed — re-derive the glob injection")
      sql
    })

  gate("load_netcdf4")((s, _) => {
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
    },
    oracle = """SELECT variable, dims, coord_key, CAST(value AS DOUBLE) AS value FROM (VALUES
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_netcdf4_v4")((s, _) => {
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
    },
    // every value in the v4 fixture is a closed-form function of its
    // coordinates (see ensureHdf5V4Fixture's scaladoc) — the oracle
    // regenerates them from range() instead of trusting any parser
    oracle = """WITH ea AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_netcdf_cf", Headline, Shared)((s, _) => {
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
    },
    // CF decode oracle: DuckDB re-applies mask → unpack → time arithmetic
    // to the fixture's closed-form RAW values (harness.Nc3CfFixture) —
    // double casts everywhere so both engines run identical IEEE ops
    oracle = """WITH tv AS (
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
        |ORDER BY variable, coord_key""".stripMargin)

  gate("load_catalog_netcdf")((s, _) => {
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
    },
    // flagship catalog->search->to_dataset_dict over the reference's own
    // cesm1-lens netcdf catalog: per-member count/min/max of every decoded
    // SHF value (members 2 and 9, 1032 months x 2x2 grid incl. the 1032
    // land-cell _FillValues), pinned by the independent python parse
    // (scripts/h5survey.py decode_var over the same two files).
    oracle = """SELECT member_id, n_values, CAST(CAST(v_min AS VARCHAR) AS DOUBLE) AS v_min,
        |       CAST(CAST(v_max AS VARCHAR) AS DOUBLE) AS v_max FROM (VALUES
        |('2', CAST(4128 AS BIGINT), CAST('-215.0996856689453' AS DOUBLE), CAST('9.969209968386869e+36' AS DOUBLE)),
        |('9', CAST(4128 AS BIGINT), CAST('-201.44403076171875' AS DOUBLE), CAST('9.969209968386869e+36' AS DOUBLE))
        |) AS t(member_id, n_values, v_min, v_max)
        |ORDER BY member_id""".stripMargin)

  gate("load_catalog_netcdf_cf")((s, _) => {
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
    },
    // CF twin of the flagship flow: masked stats + noleap calendar span.
    // Literals derived independently by scripts/h5survey.py (pure-python
    // HDF5 decode of the same .nc bytes) + cf_check.py fixed_cal_date:
    // 3096 kept of 4128 (1032 land cells = _FillValue -> null per member),
    // masked max is the true ocean max (the raw-value oracle above shows
    // the unmasked max was the fill itself), and the time axis
    // (700831..732190 days since 0000-01-01, noleap) spans 1920-02-01 to
    // 2006-01-01.
    oracle = """SELECT member_id, n_raw, n_kept, CAST(CAST(v_min AS VARCHAR) AS DOUBLE) AS v_min,
        |       CAST(CAST(v_max AS VARCHAR) AS DOUBLE) AS v_max, t_min, t_max FROM (VALUES
        |(CAST(2 AS BIGINT), CAST(4128 AS BIGINT), CAST(3096 AS BIGINT),
        | CAST('-215.0996856689453' AS DOUBLE), CAST('198.60850524902344' AS DOUBLE),
        | '1920-02-01 00:00:00', '2006-01-01 00:00:00'),
        |(CAST(9 AS BIGINT), CAST(4128 AS BIGINT), CAST(3096 AS BIGINT),
        | CAST('-201.44403076171875' AS DOUBLE), CAST('188.3180694580078' AS DOUBLE),
        | '1920-02-01 00:00:00', '2006-01-01 00:00:00')
        |) AS t(member_id, n_raw, n_kept, v_min, v_max, t_min, t_max)
        |ORDER BY member_id""".stripMargin)

  gate("scan_catalog_dict")((s, _) => {
      CatalogReader.fromDict(s, Seq(
        Map("component" -> "ocn", "experiment" -> "20C", "variable" -> "SHF", "scode" -> 482L),
        Map("component" -> "ocn", "experiment" -> "CTRL", "variable" -> "REGION_MASK", "scode" -> 483L),
        Map("component" -> "atm", "experiment" -> "RCP85", "variable" -> "FLNS", "scode" -> 484L),
        Map("component" -> "atm", "experiment" -> "20C", "variable" -> "FLNSC", "scode" -> null),
      )).orderBy("component", "experiment", "variable")
    },
    oracle = """SELECT * FROM (VALUES
        | ('ocn','20C','SHF', CAST(482 AS BIGINT)),
        | ('ocn','CTRL','REGION_MASK', CAST(483 AS BIGINT)),
        | ('atm','RCP85','FLNS', CAST(484 AS BIGINT)),
        | ('atm','20C','FLNSC', CAST(NULL AS BIGINT))
        |) AS t(component, experiment, variable, scode)
        |ORDER BY component, experiment, variable""".stripMargin)

  gate("decode_iterable_cols")((s, dir) => {
      val docs    = T(s, dir, "documents")
      val literal = concat(lit("('"), col("lang"), lit("', '"), col("source"), lit("',)"))
      docs.select(col("doc_id"), CatalogReader.decodeIterable(literal).as("arr"))
        .select(col("doc_id"),
          element_at(col("arr"), 1).as("elem1"),
          element_at(col("arr"), 2).as("elem2"),
          size(col("arr")).as("n"))
        .orderBy("doc_id")
    },
    oracle = "SELECT doc_id, lang AS elem1, source AS elem2, CAST(2 AS INT) AS n FROM documents ORDER BY doc_id")
}
