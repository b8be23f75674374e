package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CatalogReader, EsmCatalog}

/** The engine against the REFERENCE'S OWN test catalogs and expected
  * numbers (reference: tests/test_core.py:243-281, tests/utils.py paths).
  * The catalog/query plane must reproduce the reference's counts exactly;
  * asset materialization is not exercised (netCDF/zarr need connectors).
  * Each test that reads the reference's files first checks they exist
  * ([[ReferenceData.assumePresent]]) and cancels where they do not; the
  * tests on generated inputs run everywhere.
  */
class ReferenceFidelitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val base = ReferenceData.catalogs
  private val noaaIndex = s"${ReferenceData.sampleData}/kerchunk-files/noaa-nwm-test-reference.json"

  test("cesm1-lens: key membership (test_catalog_contains)") {
    ReferenceData.assumePresent(s"$base/cesm1-lens-netcdf.json")
    val cat = EsmCatalog.open(spark, s"$base/cesm1-lens-netcdf.json")
    assert(cat.containsKey("ocn.20C.pop.h"))
    assert(cat.containsKey("ocn.CTRL.pop.h"))
    assert(cat.containsKey("ocn.RCP85.pop.h"))
    assert(!cat.containsKey("foo"))
  }

  test("cesm1-lens: search sizes (test_catalog_search expected_size table)") {
    ReferenceData.assumePresent(s"$base/cesm1-lens-netcdf.json")
    val cat = EsmCatalog.open(spark, s"$base/cesm1-lens-netcdf.json")
    assert(cat.search(Map("experiment" -> "CTRL")).length == 1L)
    assert(cat.search(Map("experiment" -> Seq("CTRL", "20C"))).length == 2L)
    assert(cat.search(Map.empty).length == 0L)
    assert(cat.search(Map("variable" -> "SHF", "time_range" -> Seq("200601-210012"))).length == 1L)
  }

  test("access catalogs: gz csv + container dtypes + membership search (test_catalog_search_columns_with_iterables)") {
    ReferenceData.assumePresent(s"$base/access-columns-with-lists.json", s"$base/access-columns-with-tuples.json")
    for ((file, ct) <- Seq(
        "access-columns-with-lists.json"  -> CatalogReader.ContainerType.ListT,
        "access-columns-with-tuples.json" -> CatalogReader.ContainerType.TupleT)) {
      val cat = EsmCatalog.open(spark, s"$base/$file")
      assert(cat.iterableDtypes.get("variable").contains(ct), s"$file dtype")
      assert(cat.columnsWithIterables.contains("variable"))
      assert(cat.search(Map("variable" -> Seq("aice_m"))).length == 1L, s"$file search")
    }
  }

  test("single-item iterables decode (access-single-item-iterables)") {
    ReferenceData.assumePresent(s"$base/access-single-item-iterables.json")
    val cat = EsmCatalog.open(spark, s"$base/access-single-item-iterables.json")
    assert(cat.columnsWithIterables.contains("variable"))
    val sizes = cat.df.select(size(col("variable"))).collect().map(_.getInt(0))
    assert(sizes.forall(_ >= 1))
  }

  test("noaa opendap dict catalog: non-string scalar equality search (_search.py:54)") {
    ReferenceData.assumePresent(s"$base/noaa-pathfinder-opendap.json")
    val cat = EsmCatalog.open(spark, s"$base/noaa-pathfinder-opendap.json")
    assert(cat.df.schema("scode").dataType == org.apache.spark.sql.types.LongType)
    val expected = cat.df.filter(col("scode") === 482).count()
    assert(expected > 0)
    assert(cat.search(Map("scode" -> 482)).df.count() == expected)
  }

  test("cmip6: all-null dcpp_init_year pruned from groupby attrs (cat.py:26-45)") {
    ReferenceData.assumePresent(s"$base/cmip6-netcdf.json")
    val cat = EsmCatalog.open(spark, s"$base/cmip6-netcdf.json")
    assert(cat.model.groupbyAttrs.contains("dcpp_init_year") ||
      cat.df.columns.contains("dcpp_init_year"))
    assert(!cat.effectiveGroupbyAttrs.contains("dcpp_init_year"))
    assert(cat.length > 0)
  }

  test("catalog-dict-records: inline zarr records group and search") {
    ReferenceData.assumePresent(s"$base/catalog-dict-records.json")
    val cat = EsmCatalog.open(spark, s"$base/catalog-dict-records.json")
    assert(cat.length > 0)
    val sub = cat.search(Map("variable" -> "FLNS"))
    assert(sub.df.count() > 0)
  }

  test("multi-variable catalog: flattened uniques") {
    ReferenceData.assumePresent(s"$base/multi-variable-catalog.json")
    val cat = EsmCatalog.open(spark, s"$base/multi-variable-catalog.json")
    val u   = cat.uniqueValues("variable").toSet
    assert(Set("SHF", "REGION_MASK", "NO2", "O2").subsetOf(u))
    assert(cat.length == 1L && cat.df.count() == 5L)
  }

  test("set-container catalog decodes as SetT (access-columns-with-sets)") {
    ReferenceData.assumePresent(s"$base/access-columns-with-sets.json")
    val cat = EsmCatalog.open(spark, s"$base/access-columns-with-sets.json")
    assert(cat.iterableDtypes.get("variable").contains(CatalogReader.ContainerType.SetT))
    assert(cat.search(Map("variable" -> Seq("aice_m"))).length == 1L)
  }

  test("parquet catalog file loads identically to its csv twin (cmip5-netcdf-parquet)") {
    ReferenceData.assumePresent(s"$base/cmip5-netcdf-parquet.json", s"$base/cmip5-netcdf.json")
    val pq  = EsmCatalog.open(spark, s"$base/cmip5-netcdf-parquet.json")
    val csv = EsmCatalog.open(spark, s"$base/cmip5-netcdf.json")
    assert(pq.df.count() == csv.df.count())
    assert(pq.df.columns.sorted.toSeq == csv.df.columns.sorted.toSeq)
    assert(pq.length == csv.length)
  }

  test("no aggregation_control: groupby falls back, unique has no derived entry (test_catalog_unique)") {
    ReferenceData.assumePresent(s"$base/cmip6-netcdf-noagg.json")
    val cat = EsmCatalog.open(spark, s"$base/cmip6-netcdf-noagg.json")
    // reference: len(uniques) == len(cat.df.columns) + 0 for the noagg catalog
    assert(cat.uniqueValues.size == cat.df.columns.length)
    assert(cat.length > 0)
    // keys_info has one row per key (test_catalog_keys_info)
    assert(cat.keysInfo.count() == cat.length)
  }

  test("per-row format column drives asset dispatch (cmip6-bcc-mixed-formats)") {
    ReferenceData.assumePresent(s"$base/cmip6-bcc-mixed-formats.json")
    val cat = EsmCatalog.open(spark, s"$base/cmip6-bcc-mixed-formats.json")
    assert(cat.model.assets.formatColumnName.contains("format"))
    val formats = cat.df.select("format").distinct()
      .collect().map(_.getString(0)).toSet
    assert(formats == Set("netcdf", "zarr"))
    // the remote (gs://) zarr group must fail on the connector boundary,
    // not before it (the catalog's netcdf rows carry dangling relative
    // paths, so they are excluded — classic netCDF now parses natively and
    // would fail on the missing FILE, a different error class)
    val zarrOnly = cat.search(Map("format" -> "zarr"))
    assert(zarrOnly.length > 0)
    val e = intercept[Exception](zarrOnly.toDatasetDict(Nil))
    assert(e.isInstanceOf[UnsupportedOperationException] ||
      e.getCause.isInstanceOf[UnsupportedOperationException])
  }

  test("bad catalog: dangling './tests/…' catalog_file recovers via the sibling fallback") {
    ReferenceData.assumePresent(s"$base/bad.json")
    // the reference fails on this fixture (cat.py:318-322 resolves only
    // against the descriptor dir); the engine's documented extra fallback
    // (CatalogReader.resolveCatalogFile) finds the csv next to the json
    val cat = EsmCatalog.open(spark, s"$base/bad.json")
    assert(cat.df.count() > 0)
  }

  test("kerchunk reference index: chunk map matches the sample the reference opens") {
    ReferenceData.assumePresent(noaaIndex)
    // tests/sample_data/kerchunk-files + test_source.py:93-108: the same
    // noaa-nwm index the reference feeds xarray's zarr engine
    import org.apache.spark.sql.functions.col
    val path = noaaIndex
    val idx = graft.sources.KerchunkIndex.read(spark, path)
    assert(idx.count() == 345) // every entry of the refs map is enumerated
    // remote byte-range chunk: [url, offset, length]
    val sf = idx.filter(col("key") === "streamflow/9.2").head()
    assert(sf.getAs[String]("kind") == "ref")
    assert(sf.getAs[String]("url") ==
      "s3://noaa-nwm-retro-v2.0-pds/full_physics/2017/201704010900.CHRTOUT_DOMAIN1.comp")
    assert(sf.getAs[Long]("offset") == 41248902L && sf.getAs[Long]("length") == 1008392L)
    assert(sf.getAs[String]("variable") == "streamflow")
    // inline base64 chunk survives verbatim
    val t0 = idx.filter(col("key") === "time/0").head()
    assert(t0.getAs[String]("kind") == "inline")
    assert(t0.getAs[String]("inline_value").startsWith("base64:"))
    // zarr metadata plane
    val meta = graft.sources.KerchunkIndex.arrayMeta(idx)
      .collect().map(r => r.getAs[String]("variable") -> r).toMap
    assert(meta("streamflow").getAs[String]("dtype") == "<i4")
    assert(meta("streamflow").getAs[String]("compressor") == "zlib")
    assert(meta("elevation").getAs[String]("dtype") == "<f4")
    assert(meta("time").getAs[String]("dtype") == "<i4")
    assert(meta("time").getAs[String]("compressor") == null) // compressor: null
    // the dispatch opens it as an asset format (catalog plane, no decode)
    val viaDispatch = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil)
      .openAsset(spark, path, "reference")
    assert(viaDispatch.count() == 345)
  }

  test("kerchunk chunk materialization: local ranges byte-exact, remote refused, inline decoded") {
    ReferenceData.assumePresent(noaaIndex)
    import org.apache.spark.sql.functions.col
    val noaa = noaaIndex
    // inline base64 chunks of the noaa sample decode to the json's own bytes
    val idx = graft.sources.KerchunkIndex.read(spark, noaa)
    val inline = graft.sources.KerchunkIndex
      .materializeChunks(idx.filter(col("kind") =!= "ref"))
    val t0 = inline.filter(col("key") === "time/0").head()
    val expected64 = {
      val raw = idx.filter(col("key") === "time/0").head().getAs[String]("inline_value")
      java.util.Base64.getDecoder.decode(raw.stripPrefix("base64:"))
    }
    assert(java.util.Arrays.equals(t0.getAs[Array[Byte]]("data"), expected64))
    // remote (s3://) refs refuse with the connector-boundary message, not NPE
    val remote = intercept[org.apache.spark.SparkException] {
      graft.sources.KerchunkIndex.materializeChunks(idx).count()
    }
    assert(remote.getMessage.contains("connector boundary")
      || Option(remote.getCause).exists(_.getMessage.contains("connector boundary")))
    // local file:// ranges come back byte-exact vs a direct read of the file
    val fixture = SparkEntry.ensureKerchunkFixture()
    val chunks = graft.sources.KerchunkIndex
      .materializeChunks(graft.sources.KerchunkIndex.read(spark, fixture))
    val b2 = chunks.filter(col("key") === "blob/2").head().getAs[Array[Byte]]("data")
    val direct = {
      val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(noaa))
      java.util.Arrays.copyOfRange(all, 4096, 4096 + 64)
    }
    assert(java.util.Arrays.equals(b2, direct))
    assert(chunks.count() == 9)
  }

  test("one file's chunks spread across offset-band partitions, bytes stay exact") {
    ReferenceData.assumePresent(noaaIndex)
    import org.apache.spark.sql.functions.spark_partition_id
    import spark.implicits._
    // 64 ranges of ONE physical file: under url-only partitioning they all
    // land in one task; offset banding (bytesPerTask=512 → 8 bands) must
    // spread them while every band still reads its exact bytes
    val file = noaaIndex
    val n = 64
    val entries = (0 until n).map { i =>
      (s"v/$i", "v", s"$i", "ref", file, Some(i.toLong * 64), Some(32L), None: Option[String])
    }.toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val out = graft.sources.KerchunkIndex.materializeChunks(entries, bytesPerTask = 512)
    val parts = out.select(spark_partition_id().as("p")).distinct().count()
    assert(parts > 1, s"expected >1 partition for a single-url many-chunk index, got $parts")
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val got = out.select("key", "data").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    (0 until n).foreach { i =>
      assert(java.util.Arrays.equals(got(s"v/$i"),
        java.util.Arrays.copyOfRange(all, i * 64, i * 64 + 32)), s"chunk $i bytes")
    }
  }

  test("zarr typed decode reproduces the reference sample's inline chunk values") {
    ReferenceData.assumePresent(noaaIndex)
    import org.apache.spark.sql.functions.col
    // ground truth derived independently (python: base64 -> zlib.decompress
    // -> struct.unpack('<i')) from the same noaa-nwm index the reference
    // opens via xarray/zarr (test_source.py:93-108):
    //   time/0          <i4, compressor null : 24850080 + 60*i, 10 values
    //   reference_time/0 <i4, compressor zlib: [24720480]
    val noaa = noaaIndex
    val idx = graft.sources.KerchunkIndex.read(spark, noaa)
    val typed = graft.sources.KerchunkIndex.decodeTyped(
        graft.sources.KerchunkIndex.materializeChunks(idx.filter(col("kind") =!= "ref")),
        graft.sources.KerchunkIndex.arrayMeta(idx))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    val time = typed.filter(_._1 == "time").sortBy(_._3)
    assert(time.map(_._4).toSeq == (0 until 10).map(i => (24850080 + 60 * i).toDouble))
    val refTime = typed.filter(_._1 == "reference_time")
    assert(refTime.toSeq == Seq(("reference_time", "0", 0, 24720480.0)))
    // crs is |S1 (non-numeric): dropped, not mis-decoded
    assert(!typed.exists(_._1 == "crs"))
    // catalog-plane dispatch: format 'reference' + graft.kerchunk.decode=typed
    // descends to the typed rows through the normal openAsset path
    val viaDispatch = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "typed"))
      .openAsset(spark, SparkEntry.ensureZarrFixture(), "reference")
    assert(viaDispatch.columns.toSeq == Seq("variable", "chunk", "idx", "value"))
    // 24 temp + 10 count + 4 big + 6 mask + 256 packed (blosc) + 32 drift
    // (delta+shuffle) + 6 check (fletcher32)
    assert(viaDispatch.count() == 338)
  }

  test("decodeCoords labels values with global indices; padded edge elements dropped") {
    val idx     = SparkEntry.ensureZarrGridFixture()
    val entries = graft.sources.KerchunkIndex.read(spark, idx)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    // 5x7 array in 3x4 chunks: 4 stored chunks x 12 padded elements = 48,
    // of which exactly 35 are real data
    val grid = rows.filter(_.getAs[String]("variable") == "grid")
    assert(grid.length == 35)
    grid.foreach { r =>
      val co = r.getAs[scala.collection.Seq[Long]]("coords")
      assert(r.getAs[scala.collection.Seq[String]]("dims") == Seq("y", "x"))
      // the fixture wrote value = y*100 + x at every coordinate — matching
      // proves the chunk-grid + C-order-stride math end to end
      assert(r.getAs[Double]("value") == co(0) * 100 + co(1), s"coords $co")
    }
    val vec = rows.filter(_.getAs[String]("variable") == "vec")
    assert(vec.length == 10) // 3 chunks x 4 padded = 12 stored, 10 real
    vec.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("dims") == Seq("dim0")) // no .zattrs -> fallback
      assert(r.getAs[Double]("value") ==
        r.getAs[scala.collection.Seq[Long]]("coords")(0) * 3 - 5)
    }
    assert(!rows.exists(_.getAs[Double]("value") == -1.0)) // padding never surfaces
  }

  test("decodeCoords keeps 0-d (scalar) zarr variables; empty-array refs fail with the key") {
    import org.apache.spark.sql.functions.col
    val dir  = java.nio.file.Files.createTempDirectory("graft_scalarzarr")
    val json = dir.resolve("idx.json")
    // 'h' is a genuine zarr 0-d array: shape [], chunks [], chunk key "0" —
    // its single value must surface with coord [0], not silently vanish
    // through a null padding filter
    java.nio.file.Files.writeString(json,
      """{"version": 1, "refs": {
        |  "h/.zarray": "{\"dtype\": \"<f8\", \"shape\": [], \"chunks\": [], \"compressor\": null, \"filters\": null}",
        |  "h/0": "base64:AAAAAAAAAEA="
        |}}""".stripMargin)
    val idx = graft.sources.KerchunkIndex.read(spark, json.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(idx),
      graft.sources.KerchunkIndex.arrayMeta(idx),
      graft.sources.KerchunkIndex.attrDims(idx)).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Double]("value") == 2.0)
    assert(rows(0).getAs[scala.collection.Seq[Long]]("coords") == Seq(0L))
    java.nio.file.Files.deleteIfExists(json)
    // a ref entry that is an EMPTY array (no url) must fail with the entry
    // key, not an NPE from a skipped file open (null urls sort first)
    val bad = dir.resolve("bad.json")
    java.nio.file.Files.writeString(bad,
      """{"version": 1, "refs": {"v/0": []}}""")
    val e = intercept[Exception] {
      graft.sources.KerchunkIndex.materializeChunks(
        graft.sources.KerchunkIndex.read(spark, bad.toString)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("malformed ref") && msg.contains("v/0"), msg)
    assert(!e.isInstanceOf[NullPointerException] &&
      !Option(e.getCause).exists(_.isInstanceOf[NullPointerException]))
    java.nio.file.Files.deleteIfExists(bad); java.nio.file.Files.deleteIfExists(dir)
  }

  test("typed decode refuses a data chunk whose variable has no inline .zarray") {
    import org.apache.spark.sql.functions.col
    val dir  = java.nio.file.Files.createTempDirectory("graft_badzarr")
    val json = dir.resolve("idx.json")
    // 'v' has a data chunk but its .zarray is a byte-range REF — arrayMeta
    // cannot parse it, and silently dropping v's data would be worse
    java.nio.file.Files.writeString(json,
      """{"version": 1, "refs": {
        |  "v/.zarray": ["file:///nowhere.bin", 0, 100],
        |  "v/0": "base64:AAAAAA=="
        |}}""".stripMargin)
    val idx = graft.sources.KerchunkIndex.read(spark, json.toString)
    val e = intercept[Exception] {
      // materialize ONLY the inline data chunk: the .zarray meta-ref row
      // would race its own does-not-exist read error against the assertion
      // under test (union branches fail independently; first failure wins)
      graft.sources.KerchunkIndex.decodeTyped(
        graft.sources.KerchunkIndex.materializeChunks(idx.filter(col("kind") === "inline")),
        graft.sources.KerchunkIndex.arrayMeta(idx)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("no inline .zarray"), msg)
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("zarr v2 'filters: []' (empty list) decodes like filters: null") {
    import org.apache.spark.sql.functions.col
    val dir  = java.nio.file.Files.createTempDirectory("graft_emptyfilters")
    val json = dir.resolve("idx.json")
    // some zarr writers emit filters: [] instead of null — identical meaning
    java.nio.file.Files.writeString(json,
      """{"version": 1, "refs": {
        |  "v/.zarray": "{\"dtype\": \"<i4\", \"shape\": [2], \"chunks\": [2], \"compressor\": null, \"filters\": []}",
        |  "v/0": "base64:BwAAAPf///8="
        |}}""".stripMargin)
    val idx = graft.sources.KerchunkIndex.read(spark, json.toString)
    val typed = graft.sources.KerchunkIndex.decodeTyped(
        graft.sources.KerchunkIndex.materializeChunks(idx.filter(col("kind") =!= "ref")),
        graft.sources.KerchunkIndex.arrayMeta(idx))
      .orderBy("idx").collect().map(_.getDouble(3)).toSeq
    assert(typed == Seq(7.0, -9.0))
    java.nio.file.Files.deleteIfExists(json); java.nio.file.Files.deleteIfExists(dir)
  }

  test("zarr codec: compressors, dtypes, and refusal boundaries") {
    import graft.sources.ZarrCodec
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    // zlib round-trip, big-endian and unsigned widths
    val be = java.nio.ByteBuffer.allocate(8).putInt(7).putInt(-9).array()
    assert(ZarrCodec.decode(be, u(">i4"), u("")).toDoubleArray.toSeq == Seq(7.0, -9.0))
    assert(ZarrCodec.decode(Array[Byte](0xff.toByte, 0x01), u("|u1"), u(""))
      .toDoubleArray.toSeq == Seq(255.0, 1.0))
    val deflated = {
      val d = new java.util.zip.Deflater(); d.setInput(Array[Byte](1, 0, 2, 0)); d.finish()
      val o = new java.io.ByteArrayOutputStream(); val b = new Array[Byte](64)
      while (!d.finished()) o.write(b, 0, d.deflate(b))
      o.toByteArray
    }
    assert(ZarrCodec.decode(deflated, u("<i2"), u("zlib")).toDoubleArray.toSeq == Seq(1.0, 2.0))
    // numpy bool |b1 decodes to 0/1 (xarray decodes it to booleans)
    assert(ZarrCodec.decode(Array[Byte](0, 1, 2), u("|b1"), u(""))
      .toDoubleArray.toSeq == Seq(0.0, 1.0, 1.0))
    // non-numeric dtype → null (caller drops); unknown codec → loud refusal
    assert(ZarrCodec.decode("ab".getBytes, u("|S2"), u("")) == null)
    val e = intercept[UnsupportedOperationException](
      ZarrCodec.decode(Array[Byte](1), u("<i1"), u("lzma")))
    assert(e.getMessage.contains("connector boundary"))
    // bare zstd frames (numcodecs Zstd, zarr v2's and v3's zstd compressor)
    val zf = com.github.luben.zstd.Zstd.compress(
      java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(42).putInt(-7).array(), 3)
    assert(ZarrCodec.decode(zf, u("<i4"), u("zstd")).toDoubleArray.toSeq == Seq(42.0, -7.0))
    // blosc-lz4 decodes through the same entry point
    val bl = graft.sources.BloscCodec.compress(
      Array.tabulate[Byte](512)(i => (i % 19).toByte), typesize = 2)
    assert(ZarrCodec.decode(bl, u("<i2"), u("blosc")).numElements() == 256)
    // byte-count mismatch fails loudly, not silently truncated
    intercept[IllegalArgumentException](ZarrCodec.decode(Array[Byte](1, 2, 3), u("<i4"), u("")))
    // zarr v2 filters: delta+shuffle chain inverts (stored = shuffled diffs)
    val diffBytes = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(5).putInt(-2).putInt(7).array()
    assert(ZarrCodec.decode(graft.sources.BloscCodec.shuffle(diffBytes, 4), u("<i4"), u(""),
        u("""[{"id": "delta", "dtype": "<i4"}, {"id": "shuffle", "elementsize": 4}]"""))
      .toDoubleArray.toSeq == Seq(5.0, 3.0, 10.0))
    // integer delta cumsum wraps at the storage width like numpy
    assert(ZarrCodec.decode(Array[Byte](127, 1), u("|i1"), u(""),
        u("""[{"id": "delta", "dtype": "|i1"}]"""))
      .toDoubleArray.toSeq == Seq(127.0, -128.0))
    // unknown filter ids and misplaced delta refuse loudly
    val e3 = intercept[UnsupportedOperationException](
      ZarrCodec.decode(Array[Byte](0), u("|u1"), u(""), u("""[{"id": "fixedscaleoffset"}]""")))
    assert(e3.getMessage.contains("connector boundary"))
    intercept[UnsupportedOperationException](
      ZarrCodec.decode(Array[Byte](0, 0), u("|u1"), u(""),
        u("""[{"id": "shuffle", "elementsize": 1}, {"id": "delta", "dtype": "|u1"}]""")))
  }

  test("zarr v2 directory store: enumerates, decodes via dispatch; v3/non-dir refuse") {
    import org.apache.spark.sql.functions.col
    val store = SparkEntry.ensureZarrStoreFixture()
    val src = graft.catalog.EsmDataSource("z", Nil, "path", None, Nil,
      storageOptions = Map("graft.kerchunk.decode" -> "coords"))
    val rows = src.openAsset(spark, store, "zarr").collect()
    assert(rows.length == 10) // 6 t2m (2x3, padding dropped) + 4 step
    val t2m = rows.filter(_.getAs[String]("variable") == "t2m")
    assert(t2m.length == 6)
    t2m.foreach { r =>
      val co = r.getAs[scala.collection.Seq[Long]]("coords")
      assert(r.getAs[Double]("value") == co(0) * 10 + co(1))
      assert(r.getAs[scala.collection.Seq[String]]("dims") == Seq("t", "x"))
    }
    // chunk-map plane (no decode option) exposes the file-per-chunk refs
    val entries = graft.catalog.EsmDataSource("z", Nil, "path", None, Nil)
      .openAsset(spark, store, "zarr")
    assert(entries.filter(col("kind") === "ref").count() == 3) // t2m/0.0, t2m/0.1, step/0
    assert(entries.filter(col("member") === ".zarray").count() == 2)
    // refusals: a plain file is not a store; a v3 array with an unsupported
    // codec chain (bz2 needs an external library) fails loudly at the
    // connector boundary
    val e1 = intercept[Exception](src.openAsset(spark, s"$store/.zgroup", "zarr"))
    assert(e1.getMessage.contains("not a directory"), e1.getMessage)
    val v3 = java.nio.file.Files.createTempDirectory("graft_zarr3bad")
    java.nio.file.Files.writeString(v3.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "bz2"}]}""".stripMargin)
    java.nio.file.Files.createDirectories(v3.resolve("c"))
    java.nio.file.Files.write(v3.resolve("c/0"), Array[Byte](1, 2, 3)) // fake chunk
    val e2 = intercept[Exception] {
      src.openAsset(spark, v3.toString, "zarr3").collect() // decode=coords hits the codec
    }
    val msg2 = e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("connector boundary"), msg2)
    java.nio.file.Files.walk(v3).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("zarr v3 store: metadata translation, both chunk-key encodings, codec chain") {
    import org.apache.spark.sql.functions.col
    val store = SparkEntry.ensureZarrV3Fixture()
    val entries = graft.catalog.EsmDataSource("z3", Nil, "path", None, Nil)
      .openAsset(spark, store, "zarr3")
    // the v3 metadata arrives as synthesized v2 documents
    val meta = graft.sources.KerchunkIndex.arrayMeta(entries).collect()
      .map(r => r.getAs[String]("variable") -> r).toMap
    assert(meta("wind").getAs[String]("dtype") == "<i4")
    assert(meta("wind").getAs[String]("compressor") == "gzip")
    assert(meta("wind").getAs[scala.collection.Seq[Long]]("chunks") == Seq(1L, 3L))
    assert(meta("lev").getAs[String]("dtype") == "<f8")
    assert(meta("rain").getAs[String]("dtype") == "<f4")
    assert(meta("rain").getAs[String]("compressor") == "zstd")
    // default (c/-prefixed) and v2 chunk keys both normalize to dotted form
    val refs = entries.filter(col("kind") === "ref")
      .select("variable", "member").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs == Set(("wind", "0.0"), ("wind", "1.0"), ("lev", "0"), ("rain", "0")), refs.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    val byKey = rows.map(r => (r.getAs[String]("variable"),
      r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) -> r.getAs[Double]("value")).toMap
    for (t <- 0 until 2; x <- 0 until 3) assert(byKey(("wind", s"$t.$x")) == t * 100 + x)
    for (i <- 0 until 5) assert(byKey(("lev", i.toString)) == i * 0.5 - 1.0)
    for (i <- 0 until 4) assert(byKey(("rain", i.toString)) == i * 2.5 + 1.0) // zstd chain
    assert(rows.find(_.getAs[String]("variable") == "wind").get
      .getAs[scala.collection.Seq[String]]("dims") == Seq("t", "x"))
  }

  test("zarr v3 edge semantics: bad variable isolated, null dims, sidecars, endian") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr3_edge")
    java.nio.file.Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {"title": "edge"}}""")
    // 'ok': raw int32 [2], null second dimension name, plus a STRAY v2-style
    // numeric file next to the real c/-encoded chunk
    java.nio.file.Files.createDirectories(dir.resolve("ok/c"))
    java.nio.file.Files.writeString(dir.resolve("ok/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        | "dimension_names": [null]}""".stripMargin)
    val chunk = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(6).putInt(9).array()
    java.nio.file.Files.write(dir.resolve("ok/c/0"), chunk)
    java.nio.file.Files.write(dir.resolve("ok/0"), Array[Byte](99, 99, 99, 99, 99, 99, 99, 99))
    // 'bad': a bz2-coded variable — must NOT poison the store's enumeration
    java.nio.file.Files.createDirectories(dir.resolve("bad"))
    java.nio.file.Files.writeString(dir.resolve("bad/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "bz2"}]}""".stripMargin)
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
    // entry plane enumerates EVERYTHING, including the unsupported variable
    assert(entries.filter(col("variable") === "bad").count() == 2) // .zarray + .zattrs
    // group attributes survive as a root .zattrs meta row
    val rootAttrs = entries.filter(col("key") === ".zattrs").head().getAs[String]("inline_value")
    assert(rootAttrs.contains("edge"))
    // decode of the GOOD variable: stray 'ok/0' must not become a phantom
    // chunk; null dim name falls back positionally
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(
        entries.filter(col("variable") === "ok")),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows.map(_.getAs[Double]("value")).sorted.toSeq == Seq(6.0, 9.0))
    assert(rows.head.getAs[scala.collection.Seq[String]]("dims") == Seq("dim0"))
    // an invalid endian value refuses loudly instead of guessing byte order
    java.nio.file.Files.createDirectories(dir.resolve("weird"))
    java.nio.file.Files.writeString(dir.resolve("weird/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "BIG"}}]}""".stripMargin)
    val e = intercept[Exception](
      graft.sources.ZarrDirectoryIndex.read(spark, dir.toString).collect())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("endian"), msg)
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("zarr v3 crc32c data codec: verify-and-strip for raw and gzip chains") {
    def crcSuffix(payload: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32C(); crc.update(payload)
      payload ++ java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt).array()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr3_crc")
    java.nio.file.Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    // 'raw': bytes + crc32c, int32 [3]
    java.nio.file.Files.createDirectories(dir.resolve("raw/c"))
    java.nio.file.Files.writeString(dir.resolve("raw/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [3], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [3]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "crc32c"}]}""".stripMargin)
    val rawPayload = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(11).putInt(22).putInt(33).array()
    java.nio.file.Files.write(dir.resolve("raw/c/0"), crcSuffix(rawPayload))
    // 'gz': bytes + gzip + crc32c, float64 [2] — checksum covers the
    // COMPRESSED bytes (the codec chain order), not the plaintext
    java.nio.file.Files.createDirectories(dir.resolve("gz/c"))
    java.nio.file.Files.writeString(dir.resolve("gz/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2], "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "gzip"}, {"name": "crc32c"}]}""".stripMargin)
    val gzPlain = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(2.5).putDouble(-4.25).array()
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz  = new java.util.zip.GZIPOutputStream(bos)
      gz.write(gzPlain); gz.close(); bos.toByteArray
    }
    java.nio.file.Files.write(dir.resolve("gz/c/0"), crcSuffix(gzBytes))
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    val byKey = rows.map(r => (r.getAs[String]("variable"),
      r.getAs[scala.collection.Seq[Long]]("coords").head) -> r.getAs[Double]("value")).toMap
    assert(byKey(("raw", 0L)) == 11.0 && byKey(("raw", 1L)) == 22.0 && byKey(("raw", 2L)) == 33.0)
    assert(byKey(("gz", 0L)) == 2.5 && byKey(("gz", 1L)) == -4.25)
    // a flipped payload bit fails the checksum loudly — no silent bad data
    val corrupt = crcSuffix(rawPayload); corrupt(0) = (corrupt(0) ^ 1).toByte
    java.nio.file.Files.write(dir.resolve("raw/c/0"), corrupt)
    val e = intercept[Exception] {
      graft.sources.KerchunkIndex.decodeCoords(
        graft.sources.KerchunkIndex.materializeChunks(
          graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)),
        graft.sources.KerchunkIndex.arrayMeta(entries),
        graft.sources.KerchunkIndex.attrDims(entries)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("crc32c mismatch"), msg)
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("zarr v3 general transpose permutation addresses exactly (3-D, multi-chunk)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr3_perm")
    java.nio.file.Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    // 'one': [2,3,4] single chunk, transpose order [2,0,1] — stored axes
    // hold logical dims (2,0,1), i.e. stored shape (4,2,3); element
    // (i,j,k) lives at stored flat k*6 + i*3 + j
    java.nio.file.Files.createDirectories(dir.resolve("one/c/0/0"))
    java.nio.file.Files.writeString(dir.resolve("one/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3, 4], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3, 4]}},
        | "codecs": [{"name": "transpose", "configuration": {"order": [2, 0, 1]}},
        |            {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    def v(i: Int, j: Int, k: Int) = i * 100 + j * 10 + k
    val bb1 = java.nio.ByteBuffer.allocate(2 * 3 * 4 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (k <- 0 until 4; i <- 0 until 2; j <- 0 until 3) bb1.putInt(v(i, j, k))
    java.nio.file.Files.write(dir.resolve("one/c/0/0/0"), bb1.array())
    // 'two': same logical array, chunks [2,3,2] → grid (1,1,2); each chunk
    // stores its local block permuted the same way (stored chunk (2,2,3))
    java.nio.file.Files.createDirectories(dir.resolve("two/c/0/0"))
    java.nio.file.Files.writeString(dir.resolve("two/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 3, 4], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3, 2]}},
        | "codecs": [{"name": "transpose", "configuration": {"order": [2, 0, 1]}},
        |            {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    for (c <- 0 until 2) {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 2 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (kk <- 0 until 2; i <- 0 until 2; j <- 0 until 3) bb.putInt(v(i, j, c * 2 + kk))
      java.nio.file.Files.write(dir.resolve(s"two/c/0/0/$c"), bb.array())
    }
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    val byKey = rows.map(r => (r.getAs[String]("variable"),
      r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) -> r.getAs[Double]("value")).toMap
    assert(byKey.size == 48, byKey.size.toString)
    for (i <- 0 until 2; j <- 0 until 3; k <- 0 until 4) {
      assert(byKey(("one", s"$i.$j.$k")) == v(i, j, k), s"one $i.$j.$k")
      assert(byKey(("two", s"$i.$j.$k")) == v(i, j, k), s"two $i.$j.$k")
    }
    // a non-permutation order still refuses loudly
    java.nio.file.Files.createDirectories(dir.resolve("bad"))
    java.nio.file.Files.writeString(dir.resolve("bad/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 2], "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "codecs": [{"name": "transpose", "configuration": {"order": [0, 0]}},
        |            {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
    val e = intercept[Exception](
      graft.sources.ZarrDirectoryIndex.read(spark, dir.toString).collect())
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("not a permutation"), msg)
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("zarr v2 consolidated metadata (.zmetadata): one read supplies every doc") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr_consol")
    // metadata ONLY in the consolidated doc (some writers skip the
    // per-node files entirely for object-store efficiency) — plus one
    // array whose sidecar .zattrs deliberately DISAGREES, to prove the
    // consolidated doc is authoritative and the sidecar is never read
    java.nio.file.Files.writeString(dir.resolve(".zmetadata"),
      """{"zarr_format": 2, "metadata": {
        |  ".zgroup": {"zarr_format": 2},
        |  "v/.zarray": {"dtype": "<i4", "shape": [3], "chunks": [3], "compressor": null,
        |                "filters": null, "order": "C", "zarr_format": 2},
        |  "v/.zattrs": {"_ARRAY_DIMENSIONS": ["x"]}
        |}}""".stripMargin)
    java.nio.file.Files.createDirectories(dir.resolve("v"))
    java.nio.file.Files.writeString(dir.resolve("v/.zattrs"),
      """{"_ARRAY_DIMENSIONS": ["WRONG"]}""")
    val chunk = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(7).putInt(8).putInt(9).array()
    java.nio.file.Files.write(dir.resolve("v/0"), chunk)
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
    // consolidated docs present; the stale sidecar was not consulted
    val zattrs = entries.filter(col("key") === "v/.zattrs").collect()
    assert(zattrs.length == 1 && zattrs(0).getAs[String]("inline_value").contains("\"x\""))
    assert(entries.filter(col("member") === ".zmetadata").count() == 0)
    // chunk attribution worked without any .zarray exists() probe
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    assert(rows.map(_.getAs[Double]("value")).sorted.toSeq == Seq(7.0, 8.0, 9.0))
    assert(rows.head.getAs[scala.collection.Seq[String]]("dims") == Seq("x"))
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("zarr store with dimension_separator '/' (nested chunk dirs) attributes correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zarr_nested")
    java.nio.file.Files.writeString(dir.resolve(".zgroup"), """{"zarr_format": 2}""")
    java.nio.file.Files.createDirectories(dir.resolve("m/0"))
    java.nio.file.Files.writeString(dir.resolve("m/.zarray"),
      """{"dtype": "<i4", "shape": [2, 2], "chunks": [1, 2], "compressor": null,""" +
        """ "filters": null, "order": "C", "zarr_format": 2, "dimension_separator": "/"}""")
    def le(vals: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * vals.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putInt); b.array()
    }
    java.nio.file.Files.write(dir.resolve("m/0/0"), le(10, 11)) // row 0
    java.nio.file.Files.createDirectories(dir.resolve("m/1"))
    java.nio.file.Files.write(dir.resolve("m/1/0"), le(20, 21)) // row 1
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
    // nested chunk paths normalize to the canonical dotted keys under the
    // OWNING array (the deepest .zarray ancestor), not a phantom "m/0" var
    val refs = entries.filter(org.apache.spark.sql.functions.col("kind") === "ref")
      .select("variable", "member").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs == Set(("m", "0.0"), ("m", "1.0")), refs.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    val byCoord = rows.map(r => r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")
      -> r.getAs[Double]("value")).toMap
    assert(byCoord == Map("0.0" -> 10.0, "0.1" -> 11.0, "1.0" -> 20.0, "1.1" -> 21.0))
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
  }

  test("bare paths whose names contain colons stay local files, not fake schemes") {
    import spark.implicits._
    val dir  = java.nio.file.Files.createTempDirectory("graft_colon")
    val file = dir.resolve("t12:00.bin")
    java.nio.file.Files.write(file, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    // a relative-looking url with a colon in the FILENAME must route to the
    // local file branch — a scheme-prefix regex without the slash test would
    // hand "t12:" to Hadoop as a scheme and refuse a readable file
    val entries = Seq(("k/0", "k", "0", "ref", file.toString, Some(2L), Some(4L),
      None: Option[String]))
      .toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val data = graft.sources.KerchunkIndex.materializeChunks(entries)
      .select("data").head().getAs[Array[Byte]](0)
    assert(data.toSeq == Seq[Byte](3, 4, 5, 6))
    java.nio.file.Files.deleteIfExists(file); java.nio.file.Files.deleteIfExists(dir)
  }

  test("netcdf classic: the real CMIP5 sample decodes with labeled coordinates") {
    val nc = s"${ReferenceData.sampleData}/cmip/cmip5/output1/NIMR-KMA/HadGEM2-AO/" +
      "rcp85/mon/atmos/Amon/r1i1p1/v20130815/tasmax/" +
      "tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200511-200512.nc"
    val h5 = s"${ReferenceData.sampleData}/cmip/CMIP6/CMIP/BCC/BCC-ESM1/piControl/" +
      "r1i1p1f1/Amon/tasmax/gn/v20181214/tasmax/" +
      "tasmax_Amon_BCC-ESM1_piControl_r1i1p1f1_gn_185001-230012.nc"
    ReferenceData.assumePresent(nc, h5)
    val entries = graft.sources.NetCDF3Index.read(spark, nc)
    val meta = graft.sources.KerchunkIndex.arrayMeta(entries).collect()
      .map(r => r.getAs[String]("variable") -> r).toMap
    assert(meta("tasmax").getAs[String]("dtype") == ">f4")
    assert(meta("tasmax").getAs[scala.collection.Seq[Long]]("shape") == Seq(2L, 5L, 5L))
    assert(meta("time").getAs[String]("dtype") == ">f8")
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    assert(rows.length == 87) // every numeric element of every variable
    // spot values pinned from an independent python struct-level parse of
    // the same file (no shared code with the Scala reader)
    val byKey = rows.map(r => (r.getAs[String]("variable"),
      r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) -> r.getAs[Double]("value")).toMap
    assert(byKey(("lat", "0")) == -90.0 && byKey(("lat", "4")) == -85.0)
    assert(byKey(("height", "0")) == 2.0)
    assert(byKey(("time", "1")) == -15.0)
    assert(byKey(("tasmax", "0.0.0")) == 255.84190368652344)
    assert(byKey(("lat_bnds", "2.1")) == -86.875)
    val tas = rows.filter(_.getAs[String]("variable") == "tasmax")
    assert(tas.head.getAs[scala.collection.Seq[String]]("dims") == Seq("time", "lat", "lon"))
    // offset/stride errors produce wild float garbage — every tasmax value
    // must be a plausible Kelvin temperature
    val temps = tas.map(_.getAs[Double]("value"))
    assert(temps.length == 50 && temps.forall(t => t > 150 && t < 350))
    // HDF5-backed netCDF-4 (the CMIP6 samples) now dispatches to Hdf5Index
    // through the same `netcdf` format — the magic decides the parser
    val h5entries = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil)
      .openAsset(spark, h5, "netcdf")
    assert(h5entries.filter(col("member") === ".zarray").count() == 9)
  }

  test("netCDF-4 (HDF5): real CESM-LE/CMIP6/MPI-GE samples decode via dispatch") {
    import org.apache.spark.sql.functions.col
    val bcc = s"${ReferenceData.sampleData}/cmip/CMIP6/CMIP/BCC/BCC-ESM1/piControl/" +
      "r1i1p1f1/Amon/tasmax/gn/v20181214/tasmax/" +
      "tasmax_Amon_BCC-ESM1_piControl_r1i1p1f1_gn_185001-230012.nc"
    val mpi = s"${ReferenceData.sampleData}/mpi-ge/hist/hist0001/outdata/mpiom/" +
      "hist0001_mpiom_data_2d_mm_18500101_18501231.nc"
    val huge = s"${ReferenceData.sampleData}/cesm-le/" +
      "b.e11.B1850C5CN.f09_g16.005.pop.h.SHF.040001-049912.nc"
    ReferenceData.assumePresent(bcc, mpi, huge)
    def coordRows(path: String, vars: Seq[String]) =
      graft.catalog.EsmDataSource("n4", Nil, "path", None, Nil,
          storageOptions = Map("graft.kerchunk.decode" -> "coords"))
        .openAsset(spark, path, "netcdf")
        .filter(col("variable").isin(vars: _*)).collect()
        .map(r => (r.getAs[String]("variable"),
          r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) ->
          (r.getAs[scala.collection.Seq[String]]("dims").mkString("."), r.getAs[Double]("value")))
        .toMap

    // CMIP6 (BCC writer): contiguous f8/f4 variables, LE data, dense root
    // attrs (multi-row fractal heap + depth-1 name b-tree). Values pinned
    // by the independent python struct parse (scripts/h5survey.py).
    val b = coordRows(bcc, Seq("lat", "tasmax", "height"))
    assert(b(("lat", "0")) == ("lat", -87.86379883923263))
    assert(b(("tasmax", "0.0.0")) == ("time.lat.lon", 249.50198364257812))
    assert(b(("tasmax", "0.0.2")) == ("time.lat.lon", 249.15121459960938))
    assert(b(("height", "0")) == ("height", 2.0)) // 0-d scalar keeps coord [0]

    // MPI-GE (CDO writer): BIG-endian f4 dimension scales next to LE data
    // in the same file, 4-D contiguous variables
    val m = coordRows(mpi, Seq("sst", "time", "y"))
    assert(m(("sst", "0.0.0.0"))._2 == 279.2419738769531)
    assert(m(("sst", "0.0.0.1"))._2 == 279.3222351074219)
    assert(m(("time", "1"))._2 == 672.0)
    // `y` was never written (contiguous address undefined): all-fill
    // variables contribute metadata but zero value rows
    assert(!m.keys.exists(_._1 == "y"))

    // CESM-LE file whose `history` exceeds the managed-object limit: the
    // huge-object path (v2 b-tree type 1) must surface the full attribute
    val rootAttrs = graft.sources.Hdf5Index.read(spark, huge)
      .filter(col("key") === ".zattrs").head().getAs[String]("inline_value")
    assert(rootAttrs.contains("history"))
    assert(rootAttrs.length > 6000, s"history attr truncated: ${rootAttrs.length}")

    // chunked+filtered variables: `time` [1200] in [1] chunks → 1200 refs
    // through a multi-level v1 b-tree walk; SHF [1200,2,2] in a single
    // [1200,2,2] chunk whose 4800 values must all be plausible W/m^2 heat
    // fluxes after zlib+shuffle inversion (offset/stride errors produce
    // float garbage)
    val entries = graft.sources.Hdf5Index.read(spark, huge)
    assert(entries.filter(col("variable") === "time" && col("kind") === "ref").count() == 1200)
    assert(entries.filter(col("variable") === "SHF" && col("kind") === "ref").count() == 1)
    val shf = graft.sources.KerchunkIndex.decodeTyped(
      graft.sources.KerchunkIndex.materializeChunks(
        entries.filter(col("variable") === "SHF" || col("kind") === "meta")),
      graft.sources.KerchunkIndex.arrayMeta(entries))
      .filter(col("variable") === "SHF")
    // one of the four grid cells is land → exactly 1200 _FillValue (9.97e36)
    // entries; the ocean cells carry physical heat fluxes whose extremes are
    // pinned by the independent python parse (scripts/h5survey.py decode_var)
    val fills = shf.filter(col("value") > 1e30).count()
    assert(fills == 1200L)
    val stats = shf.filter(col("value") < 1e30)
      .agg(org.apache.spark.sql.functions.count(col("value")),
        org.apache.spark.sql.functions.min(col("value")),
        org.apache.spark.sql.functions.max(col("value"))).head()
    assert(stats.getLong(0) == 3600L)
    assert(stats.getDouble(1) == -189.9114990234375)
    assert(stats.getDouble(2) == 196.13958740234375)
  }

  test("catalog netcdf end-to-end: relative paths resolve, to_dataset_dict decodes") {
    ReferenceData.assumePresent(s"$base/cesm1-lens-netcdf.json")
    import org.apache.spark.sql.functions.col
    // the reference's own catalog: './tests/sample_data/…' asset paths are
    // CWD-relative there; the engine's descriptor-ancestor fallback finds
    // them from any CWD
    val cat = EsmCatalog.open(spark, s"$base/cesm1-lens-netcdf.json",
        storageOptions = Map("graft.kerchunk.decode" -> "coords"))
      .search(Map("experiment" -> "20C", "member_id" -> Seq(2, 9), "variable" -> "SHF"))
    assert(cat.length == 1L && cat.df.count() == 2L)
    val dict = cat.toDatasetDict(Nil)
    assert(dict.keySet == Set("ocn.20C.pop.h"))
    val shf = dict("ocn.20C.pop.h").filter(col("variable") === "SHF")
    // join_new stamped member_id; both members' full grids decoded
    val byMember = shf.groupBy("member_id").count().collect()
      .map(r => r.getAs[String]("member_id") -> r.getAs[Long]("count")).toMap
    assert(byMember == Map("2" -> 4128L, "9" -> 4128L), byMember.toString)
    // one pinned value per member from the independent python parse
    val m2first = shf.filter(col("member_id") === "2")
      .filter(col("coords")(0) === 0 && col("coords")(1) === 0 && col("coords")(2) === 0)
      .head().getAs[Double]("value")
    assert(m2first == -77.76759338378906, m2first.toString)
    // a relative path that matches NO ancestor stays as written (open fails
    // on the original name, not a mangled one)
    val cat2 = EsmCatalog.open(spark, s"$base/cesm1-lens-netcdf.json")
    val entry = cat2.getEntry("ocn.CTRL.pop.h")
    assert(entry.records.forall(_.apply("path").toString.startsWith(s"${ReferenceData.root}/")))
    // toDatatree rebuilds the catalog with sep="/" — descriptorDir must
    // survive that copy or the same assets go unresolved
    val tree = cat.toDatatree(Nil)
    assert(tree.keySet == Set("/ocn/20C/pop.h"))
    // Hadoop's single-slash file:/ descriptor form resolves the same way
    val cat3 = EsmCatalog.open(spark, s"file:$base/cesm1-lens-netcdf.json")
    assert(cat3.getEntry("ocn.CTRL.pop.h").records
      .forall(_.apply("path").toString.startsWith(s"${ReferenceData.root}/")))
  }

  test("corpus sweep: EVERY HDF5 .nc file in the reference sample data parses") {
    ReferenceData.assumePresent(ReferenceData.sampleData)
    import org.apache.spark.sql.functions.col
    // the honest completeness claim behind the netcdf dispatch: the whole
    // sample corpus (CESM-LE, CMIP5/6, MPI-GE, ...) parses structurally —
    // one distributed job, one task per file (readMany)
    import scala.jdk.CollectionConverters._
    val magic = Array[Byte](0x89.toByte, 'H', 'D', 'F')
    val all = java.nio.file.Files.walk(
        java.nio.file.Paths.get(ReferenceData.sampleData))
      .filter(p => p.toString.endsWith(".nc"))
      .iterator().asScala.toList
    val h5files = all.filter { p =>
      val in = java.nio.file.Files.newInputStream(p)
      val head = new Array[Byte](4)
      try { in.read(head); head.sameElements(magic) } finally in.close()
    }.map(_.toString)
    assert(h5files.size > 300, s"corpus shrank? ${h5files.size} hdf5 files")
    val entries = graft.sources.Hdf5Index.readMany(spark, h5files)
    // exactly one root .zgroup per file, and every file contributed refs
    assert(entries.filter(col("key") === ".zgroup").count() == h5files.size.toLong)
    val filesWithRefs = entries.filter(col("kind") === "ref")
      .select("url").distinct().count()
    assert(filesWithRefs == h5files.size.toLong,
      s"$filesWithRefs of ${h5files.size} files produced chunk refs")
  }

  test("netcdf record variables: interleaved stride, single-var unpadded, CDF-2 offsets") {
    import org.apache.spark.sql.functions.col
    // spec-faithful byte-level writer (big-endian, padded names, record
    // section after fixed data) — independent of the reader's code paths
    def bb(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.BIG_ENDIAN)
    def putName(b: java.nio.ByteBuffer, s: String): Unit = {
      b.putInt(s.length); b.put(s.getBytes("US-ASCII"))
      (0 until ((4 - s.length % 4) % 4)).foreach(_ => b.put(0.toByte))
    }
    // two record vars 'a' (int, dims t,x) + 'b' (short, dims t), one fixed
    // 'fix' (double, dims x); t is the record dim (len 0), x has len 2.
    // recSize = pad4(2*4) + pad4(2) = 8 + 4 = 12.
    def writeTwoRecVars(version: Int): String = {
      val numrecs = 3
      val b = bb(4096)
      b.put("CDF".getBytes("US-ASCII")); b.put(version.toByte)
      b.putInt(numrecs)
      b.putInt(0x0a); b.putInt(2)
      putName(b, "t"); b.putInt(0) // record dim
      putName(b, "x"); b.putInt(2)
      b.putInt(0); b.putInt(0) // no global atts
      b.putInt(0x0b); b.putInt(3)
      def putBegin(begin: Long): Unit =
        if (version == 2) b.putLong(begin) else b.putInt(begin.toInt)
      // header size depends on version (begin width) — compute data offsets
      // after writing by patching; simpler: fixed layout with known sizes
      val beginWidth = if (version == 2) 8 else 4
      // var entry sizes: name(8 for 3-4 chars via putName), ndims, dimids,
      // atts(8), type, vsize, begin — compute header length empirically by
      // writing into the buffer and patching begins afterwards.
      val beginSlots = scala.collection.mutable.ArrayBuffer.empty[Int]
      def varEntry(name: String, dimids: Seq[Int], t: Int, vsize: Int): Unit = {
        putName(b, name); b.putInt(dimids.length); dimids.foreach(b.putInt)
        b.putInt(0); b.putInt(0) // no atts
        b.putInt(t); b.putInt(vsize)
        beginSlots += b.position()
        if (version == 2) b.putLong(0L) else b.putInt(0)
      }
      varEntry("a", Seq(0, 1), 4, 8)
      varEntry("b", Seq(0), 3, 4)
      varEntry("fix", Seq(1), 6, 16)
      val headerLen = b.position()
      val fixBegin  = headerLen
      val recBegin  = fixBegin + 16
      // patch begins: a at recBegin, b at recBegin+8, fix at fixBegin
      val begins = Seq(recBegin.toLong, recBegin + 8L, fixBegin.toLong)
      begins.zip(beginSlots).foreach { case (v, slot) =>
        if (version == 2) b.putLong(slot, v) else b.putInt(slot, v.toInt)
      }
      b.position(headerLen)
      b.putDouble(2.5); b.putDouble(-1.5) // fix
      for (r <- 0 until numrecs) {        // record section, stride 12
        b.putInt(r * 10); b.putInt(r * 10 + 1) // a slab (8 bytes)
        b.putShort((-r).toShort); b.put(0.toByte); b.put(0.toByte) // b slab padded to 4
      }
      val out = java.nio.file.Files.createTempFile(s"graft_nc3_v$version", ".nc")
      java.nio.file.Files.write(out, java.util.Arrays.copyOf(b.array(), b.position()))
      out.toString
    }
    for (version <- Seq(1, 2)) {
      val nc = writeTwoRecVars(version)
      val entries = graft.sources.NetCDF3Index.read(spark, nc)
      val rows = graft.sources.KerchunkIndex.decodeCoords(
        graft.sources.KerchunkIndex.materializeChunks(entries),
        graft.sources.KerchunkIndex.arrayMeta(entries),
        graft.sources.KerchunkIndex.attrDims(entries)).collect()
      val byKey = rows.map(r => (r.getAs[String]("variable"),
        r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) -> r.getAs[Double]("value")).toMap
      assert(byKey.size == 6 + 3 + 2, s"v$version: ${byKey.keys}")
      for (r <- 0 until 3; c <- 0 until 2)
        assert(byKey(("a", s"$r.$c")) == r * 10 + c, s"v$version a($r,$c)")
      for (r <- 0 until 3) assert(byKey(("b", r.toString)) == -r, s"v$version b($r)")
      assert(byKey(("fix", "0")) == 2.5 && byKey(("fix", "1")) == -1.5, s"v$version fix")
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(nc))
    }
    // exactly ONE record variable: the spec leaves its slab UNPADDED —
    // a short-typed var strides 2 bytes per record, not 4
    locally {
      val numrecs = 4
      val b = bb(1024)
      b.put("CDF".getBytes("US-ASCII")); b.put(1.toByte)
      b.putInt(numrecs)
      b.putInt(0x0a); b.putInt(1); putName(b, "t"); b.putInt(0)
      b.putInt(0); b.putInt(0)
      b.putInt(0x0b); b.putInt(1)
      putName(b, "s"); b.putInt(1); b.putInt(0)
      b.putInt(0); b.putInt(0)
      b.putInt(3); b.putInt(4) // short; vsize field padded (and ignored)
      val slot = b.position(); b.putInt(0)
      b.putInt(slot, b.position()) // begin = data start (right after the slot)
      for (r <- 0 until numrecs) b.putShort((r * 3 + 1).toShort) // stride 2!
      val out = java.nio.file.Files.createTempFile("graft_nc3_single", ".nc")
      java.nio.file.Files.write(out, java.util.Arrays.copyOf(b.array(), b.position()))
      val entries = graft.sources.NetCDF3Index.read(spark, out.toString)
      val vals = graft.sources.KerchunkIndex.decodeTyped(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries))
        .orderBy("chunk").select("value").collect().map(_.getDouble(0)).toSeq
      assert(vals == Seq(1.0, 4.0, 7.0, 10.0), s"single-rec-var values $vals")
      java.nio.file.Files.deleteIfExists(out)
    }
  }

  test("netcdf CDF-5: int64-wide sizes and unsigned/64-bit types decode") {
    // spec-faithful CDF-5 writer: every NON_NEG is int64, tags/nc_type stay
    // int32, begin is int64. One fixed uint64 var, one record int64 var.
    val b = java.nio.ByteBuffer.allocate(2048).order(java.nio.ByteOrder.BIG_ENDIAN)
    def putName(s: String): Unit = {
      b.putLong(s.length.toLong); b.put(s.getBytes("US-ASCII"))
      (0 until ((4 - s.length % 4) % 4)).foreach(_ => b.put(0.toByte))
    }
    b.put("CDF".getBytes("US-ASCII")); b.put(5.toByte)
    b.putLong(2L) // numrecs
    b.putInt(0x0a); b.putLong(2L)
    putName("t"); b.putLong(0L) // record dim
    putName("x"); b.putLong(3L)
    b.putInt(0); b.putLong(0L) // no global atts
    b.putInt(0x0b); b.putLong(2L)
    // fixed 'u' : uint64, dims [x]
    putName("u"); b.putLong(1L); b.putLong(1L)
    b.putInt(0); b.putLong(0L)
    b.putInt(11); b.putLong(24L)
    val uBeginSlot = b.position(); b.putLong(0L)
    // record 'r' : int64, dims [t, x]
    putName("r"); b.putLong(2L); b.putLong(0L); b.putLong(1L)
    b.putInt(0); b.putLong(0L)
    b.putInt(10); b.putLong(24L)
    val rBeginSlot = b.position(); b.putLong(0L)
    val uBegin = b.position()
    b.putLong(uBeginSlot, uBegin.toLong)
    // u values: includes one above 2^63 (unsigned) — widens like ZarrCodec u8
    b.putLong(7L); b.putLong(-1L /* 2^64-1 */ ); b.putLong(1L << 40)
    val rBegin = b.position()
    b.putLong(rBeginSlot, rBegin.toLong)
    for (rec <- 0 until 2; x <- 0 until 3) b.putLong((rec * 100 + x).toLong)
    val out = java.nio.file.Files.createTempFile("graft_cdf5", ".nc")
    java.nio.file.Files.write(out, java.util.Arrays.copyOf(b.array(), b.position()))
    val entries = graft.sources.NetCDF3Index.read(spark, out.toString)
    val meta = graft.sources.KerchunkIndex.arrayMeta(entries).collect()
      .map(r => r.getAs[String]("variable") -> r.getAs[String]("dtype")).toMap
    assert(meta == Map("u" -> ">u8", "r" -> ">i8"), meta.toString)
    val rows = graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries)).collect()
    val byKey = rows.map(r => (r.getAs[String]("variable"),
      r.getAs[scala.collection.Seq[Long]]("coords").mkString(".")) -> r.getAs[Double]("value")).toMap
    assert(byKey(("u", "0")) == 7.0)
    assert(byKey(("u", "1")) == 1.8446744073709552e19) // 2^64 - 1 as unsigned
    assert(byKey(("u", "2")) == (1L << 40).toDouble)
    for (rec <- 0 until 2; x <- 0 until 3)
      assert(byKey(("r", s"$rec.$x")) == rec * 100 + x, s"r($rec,$x)")
    java.nio.file.Files.deleteIfExists(out)
  }

  test("blosc codec: round-trips, shuffle/split shapes, memcpy fallback, refusals") {
    import graft.sources.BloscCodec
    def roundTrip(src: Array[Byte], typesize: Int, codec: Int = 1): Unit = {
      val packed = BloscCodec.compress(src, typesize, codec)
      assert(java.util.Arrays.equals(BloscCodec.decompress(packed), src),
        s"round-trip failed: n=${src.length} typesize=$typesize codec=$codec")
    }
    // compressible input with shuffle + 4-way split (typesize 4, one block)
    roundTrip(Array.tabulate[Byte](4096)(i => ((i / 4) % 50).toByte), 4)
    // repetitive doubles — 8-way split
    roundTrip(Array.tabulate[Byte](2048)(i => ((i / 8) % 3 * 41).toByte), 8)
    // multi-block (> 64 KiB blocksize cap) with a leftover partial block
    roundTrip(Array.tabulate[Byte](64 * 1024 + 1000)(i => (i % 17).toByte), 4)
    // typesize 1: no shuffle, single split
    roundTrip(Array.tabulate[Byte](300)(i => (i % 5).toByte), 1)
    // blocksize/typesize < 128 forces nsplits=1 even with typesize 4
    roundTrip(Array.tabulate[Byte](256)(i => (i % 9).toByte), 4)
    // incompressible bytes take the memcpy path (flags bit 1)
    val noisy = { val r = new java.util.Random(42); val a = new Array[Byte](500); r.nextBytes(a); a }
    val packedNoisy = BloscCodec.compress(noisy, 4)
    assert((packedNoisy(2) & 0x2) != 0, "expected memcpy flag for incompressible input")
    assert(java.util.Arrays.equals(BloscCodec.decompress(packedNoisy), noisy))
    // lz4 overlapping match (RLE shape: offset < length) expands correctly
    val rle = Array.fill[Byte](1024)(7)
    roundTrip(rle, 1)
    // snappy/zlib/zstd inner codecs (Spark's bundled snappy-java, the JDK
    // Deflater, Spark's bundled zstd-jni): never split per c-blosc's
    // split rule, shuffle still applies, multi-block still works
    for (codec <- Seq(2, 3, 4)) {
      roundTrip(Array.tabulate[Byte](4096)(i => ((i / 4) % 50).toByte), 4, codec)
      roundTrip(Array.tabulate[Byte](64 * 1024 + 1000)(i => (i % 17).toByte), 8, codec)
      roundTrip(Array.tabulate[Byte](300)(i => (i % 5).toByte), 1, codec)
    }
    // blosclz (codec id 0): same shapes as lz4 — shuffle+split, leftovers,
    // typesize 1, RLE
    roundTrip(Array.tabulate[Byte](4096)(i => ((i / 4) % 50).toByte), 4, 0)
    roundTrip(Array.tabulate[Byte](64 * 1024 + 1000)(i => (i % 17).toByte), 4, 0)
    roundTrip(Array.tabulate[Byte](300)(i => (i % 5).toByte), 1, 0)
    roundTrip(rle, 1, 0)
    // blosclz far-distance escape (> 8191+code): hand-crafted stream, since
    // the fixture encoder only emits distance-1 matches — copy 5 bytes from
    // distance 8500 after 8700 literals
    locally {
      val lits = Array.tabulate[Byte](8700)(i => (i % 251).toByte)
      val st = new java.io.ByteArrayOutputStream()
      var p = 0
      while (p < lits.length) {
        val run = math.min(32, lits.length - p)
        st.write(run - 1); st.write(lits, p, run); p += run
      }
      // ctrl: len-code 3 (copies 5), ofs-high 31; dist byte 255; far16 = 8500-8192
      st.write((3 << 5) | 31); st.write(255)
      val far = 8500 - 8192
      st.write((far >> 8) & 0xff); st.write(far & 0xff)
      val stream = st.toByteArray
      val out = BloscCodec.blosclzDecompress(stream, 0, stream.length, 8705)
      assert(java.util.Arrays.equals(out, lits ++ (200 until 205).map(i => (i % 251).toByte)))
    }
    // bit-shuffle (flags bit2): layout pinned against the PUBLIC bitshuffle
    // reference semantics (numpy unpackbits -> transpose -> packbits,
    // independently computed)
    locally {
      val i2 = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 16).foreach(v => i2.putShort(v.toShort))
      val expected = Array[Int](0, 0, 0, 0, 0, 0, 0, 0, 0, 255, 15, 15, 51, 51, 85, 85,
        0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)
      assert(java.util.Arrays.equals(BloscCodec.bitShuffle(i2.array(), 2), expected))
      assert(java.util.Arrays.equals(BloscCodec.bitUnshuffle(expected, 2), i2.array()))
      val f4 = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Seq(1.5f, -2.25f, 3.0f, 4.5f, 0.0f, 100.25f, -0.125f, 7.875f).foreach(f4.putFloat)
      val expF4 = Array[Int](0, 0, 0, 0, 0, 0, 0, 0, 4, 0, 0, 0, 0, 0, 0, 0,
        149, 165, 1, 81, 5, 1, 0, 0, 66, 117, 130, 130, 130, 130, 134, 128).map(_.toByte)
      assert(java.util.Arrays.equals(BloscCodec.bitShuffle(f4.array(), 4), expF4))
      assert(java.util.Arrays.equals(BloscCodec.bitUnshuffle(expF4, 4), f4.array()))
      // non-multiple-of-8 element counts carry the tail verbatim (c-blosc rule)
      val odd = Array.tabulate[Byte](42)(i => (i * 7).toByte) // 21 i2 elements
      assert(java.util.Arrays.equals(
        BloscCodec.bitUnshuffle(BloscCodec.bitShuffle(odd, 2), 2), odd))
      assert(java.util.Arrays.equals(
        BloscCodec.bitShuffle(odd, 2).drop(32), odd.drop(32))) // 16*2 transformed
    }
    // full-chunk bit-shuffle round-trips across codecs and block shapes
    for (codec <- Seq(0, 1, 3)) {
      val src = Array.tabulate[Byte](4096)(i => ((i / 8) % 23).toByte)
      val packed = BloscCodec.compress(src, 8, codec, bitShuffleMode = true)
      assert((packed(2) & 0x4) != 0 || (packed(2) & 0x2) != 0)
      assert(java.util.Arrays.equals(BloscCodec.decompress(packed), src),
        s"bit-shuffle round-trip failed for codec $codec")
    }
    // fletcher32 (HDF5 H5_checksum_fletcher32, the variant numcodecs
    // copied): values pinned by an independent python port of the public
    // algorithm — odd tail, multi-block deferred modulo, fixture body
    locally {
      import graft.sources.ZarrCodec
      assert(ZarrCodec.fletcher32("abcde".getBytes("US-ASCII"), 5) == 1341139399L)
      assert(ZarrCodec.fletcher32("abcdefgh".getBytes("US-ASCII"), 8) == 3790311829L)
      val long = Array.tabulate[Byte](1024)(i => (i % 256).toByte)
      assert(ZarrCodec.fletcher32(long, 1024) == 353763583L)
      val body = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until 6).foreach(i => body.putInt(7 * i - 11))
      assert(ZarrCodec.fletcher32(body.array(), 24) == 838871296L)
      // decode verifies-and-strips; a flipped byte fails loudly; the
      // byte-reversed stored form (HDF5 pre-1.6.3 writers) is accepted
      def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val sum = ZarrCodec.fletcher32(body.array(), 24)
      def withSuffix(v: Long, reversed: Boolean): Array[Byte] = {
        val sfx = java.nio.ByteBuffer.allocate(4)
          .order(if (reversed) java.nio.ByteOrder.BIG_ENDIAN
                 else java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(v.toInt).array()
        body.array() ++ sfx
      }
      val filters = u("""[{"id": "fletcher32"}]""")
      val ok = ZarrCodec.decode(withSuffix(sum, reversed = false), u("<i4"), u(""), filters)
      assert((0 until 6).forall(i => ok.getDouble(i) == 7 * i - 11))
      val okRev = ZarrCodec.decode(withSuffix(sum, reversed = true), u("<i4"), u(""), filters)
      assert((0 until 6).forall(i => okRev.getDouble(i) == 7 * i - 11))
      val bad = withSuffix(sum, reversed = false); bad(3) = (bad(3) ^ 0x11).toByte
      val e = intercept[IllegalArgumentException](
        ZarrCodec.decode(bad, u("<i4"), u(""), filters))
      assert(e.getMessage.contains("fletcher32"), e.getMessage)
    }
    // unknown codec id still refuses loudly
    val loPart = BloscCodec.compress(Array.tabulate[Byte](600)(i => (i % 4).toByte), 1).clone()
    loPart(2) = ((loPart(2) & 0x1f) | (6 << 5)).toByte // codec id 6 = unassigned
    val e2 = intercept[UnsupportedOperationException](BloscCodec.decompress(loPart))
    assert(e2.getMessage.contains("connector boundary"))
    // header/chunk length mismatch is a loud error, not silent truncation
    intercept[IllegalArgumentException](
      BloscCodec.decompress(BloscCodec.compress(rle, 1).dropRight(3)))
  }

  test("truly missing catalog_file fails with a load error, not an NPE") {
    val dir  = java.nio.file.Files.createTempDirectory("graft_badcat")
    val json = dir.resolve("gone.json")
    java.nio.file.Files.write(json,
      """{"esmcat_version":"0.1.0","id":"gone","description":"x",
        |"catalog_file":"./no-such-file.csv",
        |"attributes":[{"column_name":"a","vocabulary":""}],
        |"assets":{"column_name":"path","format":"zarr"}}""".stripMargin.getBytes("UTF-8"))
    val e = intercept[Exception](EsmCatalog.open(spark, json.toString).df.count())
    assert(!e.isInstanceOf[NullPointerException])
    java.nio.file.Files.deleteIfExists(json)
    java.nio.file.Files.deleteIfExists(dir)
  }
}
