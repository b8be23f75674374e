package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{Dap2Fixture, Hdf5V4Fixture, Nc3CfFixture}
import graft.sources.{Dap2Index, Hdf5Index, KerchunkIndex, NetCDF3Index, ZarrDirectoryIndex,
  ZarrWriter}

/** Every chunk-map reader's entry rows on generated inputs, pinned as a
  * digest of the schema (nullability included) and the sorted rows. The
  * digests were taken from the readers before they shared one entry
  * module, so a change in any row's bytes, in a column's type or in its
  * nullability shows here. Paths under the suite's temp directory read as
  * `$ROOT`, the loopback DAP2 server as `$DAP`. */
class EntryPlaneSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root: Path = Files.createTempDirectory("graft_entry_plane")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    finally super.afterAll()

  /** `rows=<n> sha256=<hex>` over the schema JSON and the sorted rows. */
  private def digest(df: DataFrame, subst: (String, String)*): String = {
    val rows = df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString("\u0001"))
      .map(r => (subst :+ (root.toString -> "$ROOT")).foldLeft(r) {
        case (s, (from, to)) => s.replace(from, to) })
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.json.getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"rows=${rows.length} sha256=" + md.digest().map("%02x".format(_)).mkString
  }

  private def pin(name: String, df: => DataFrame, want: String, subst: (String, String)*): Unit =
    test(s"$name entry rows are pinned") {
      val got = digest(df, subst: _*)
      assert(got == want, s"$name: $got")
    }

  private def dir(name: String): String = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  private def write(rel: String, bytes: Array[Byte]): String = {
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
    f.toString
  }

  private def text(rel: String, s: String): String = write(rel, s.getBytes("UTF-8"))

  // -------------------------------------------------------------- zarr v2

  /** `tas(time, lat)` and `time(time)`, small chunks so each array spans
    * several chunk files. */
  private def cells: DataFrame =
    ((for (t <- 0L until 6L; l <- 0L until 3L)
      yield ("tas", Seq("time", "lat"), Seq(t, l), t * 10.0 + l - 25.0)) ++
      (0L until 6L).map(t => ("time", Seq("time"), Seq(t), t.toDouble)))
      .toDF("variable", "dims", "coords", "value")

  /** Drops the `.crc` files the Hadoop local filesystem writes beside
    * each file, so a store holds what a zarr writer would leave. */
  private def dropCrc(store: String): String = {
    val walk = Files.walk(java.nio.file.Paths.get(store))
    try walk.iterator().asScala.toList
      .filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.delete)
    finally walk.close()
    store
  }

  private lazy val zarrV2: String = {
    val d = dir("v2plain")
    ZarrWriter.write(cells, d, maxChunkBytes = 64)
    dropCrc(d)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = root.resolve(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  private def metaDocs(store: String): Seq[(String, String)] = {
    val src = java.nio.file.Paths.get(store)
    val walk = Files.walk(src)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("."))
      .map(p => src.relativize(p).toString -> Files.readString(p)).toSeq.sorted
    finally walk.close()
  }

  /** The plain store plus a `.zmetadata` holding every metadata document. */
  private lazy val zarrV2Consolidated: String = {
    copyTree(zarrV2, "v2consolidated")
    val docs = metaDocs(zarrV2).map { case (k, v) => s""""$k": $v""" }.mkString(",\n")
    text("v2consolidated/.zmetadata",
      s"""{"zarr_consolidated_format": 1, "metadata": {\n$docs\n}}""")
    root.resolve("v2consolidated").toString
  }

  /** The plain store with `dimension_separator: "/"`: chunk `i.j` moves to
    * `i/j`. */
  private lazy val zarrV2Nested: String = {
    copyTree(zarrV2, "v2nested")
    val store = root.resolve("v2nested")
    val walk = Files.walk(store)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    files.foreach { p =>
      val name = p.getFileName.toString
      if (name == ".zarray") {
        val doc = Files.readString(p).trim
        Files.writeString(p, doc.stripSuffix("}") + """, "dimension_separator": "/"}""")
      } else if (!name.startsWith(".") && name.contains(".")) {
        val nested = p.getParent.resolve(name.replace('.', '/'))
        Files.createDirectories(nested.getParent)
        Files.move(p, nested)
      }
    }
    store.toString
  }

  pin("zarr v2 plain", ZarrDirectoryIndex.read(spark, zarrV2),
    "rows=9 sha256=da4d1fe2a4f7028adb072ba71205860e290956630724300e7324996daca9ca48")
  pin("zarr v2 consolidated", ZarrDirectoryIndex.read(spark, zarrV2Consolidated),
    "rows=9 sha256=adcd616c9c31d71983ab7b2cdf3991e3d5f3b80c8c164389b0b62d1239ad5d40")
  pin("zarr v2 nested-separator", ZarrDirectoryIndex.read(spark, zarrV2Nested),
    "rows=9 sha256=ab831ef6a89a7a0367aed1ef7bad4b51b98d7c480e254376d83be835c12a48da")

  // -------------------------------------------------------------- zarr v3

  /** A plain v3 store plus two sidecar files outside every chunk scheme. */
  private lazy val zarrV3: String = {
    val d = dir("v3plain")
    ZarrWriter.writeV3(cells, d, maxChunkBytes = 64)
    text("v3plain/README", "not a chunk")
    text("v3plain/tas/c/stray", "not a chunk either")
    dropCrc(d)
  }

  private lazy val zarrV3Sharded: String = {
    val d = dir("v3sharded")
    ZarrWriter.writeV3(cells, d, maxChunkBytes = 64, shardInnerChunks = 2)
    dropCrc(d)
  }

  /** Group attributes, a general permutation (`_graft_perm`), a full
    * reversal (order F) and the v2 chunk-key encoding. */
  private lazy val zarrV3Transposed: String = {
    val d = dir("v3transposed")
    text("v3transposed/zarr.json",
      """{"zarr_format": 3, "node_type": "group", "attributes": {"title": "perm"}}""")
    def array(name: String, order: String, keyEncoding: String): Unit =
      text(s"v3transposed/$name/zarr.json",
        s"""{"zarr_format": 3, "node_type": "array", "shape": [2, 3, 4], "data_type": "int32",
           | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3, 2]}},
           | $keyEncoding
           | "codecs": [{"name": "transpose", "configuration": {"order": $order}},
           |            {"name": "bytes", "configuration": {"endian": "little"}}],
           | "dimension_names": ["a", null, "c"]}""".stripMargin)
    array("perm", "[2, 0, 1]", "")
    array("rev", "[2, 1, 0]",
      """"chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},""")
    for (c <- 0 until 2) {
      write(s"v3transposed/perm/c/0/0/$c", new Array[Byte](48))
      write(s"v3transposed/rev/0.0.$c", new Array[Byte](48))
    }
    d
  }

  pin("zarr v3 plain", ZarrDirectoryIndex.read(spark, zarrV3),
    "rows=11 sha256=43a5245fa68c08027cb4c3752e534c28ce5b2a57ed3d1470cc89d39b3742d6ea")
  pin("zarr v3 sharded", ZarrDirectoryIndex.read(spark, zarrV3Sharded),
    "rows=9 sha256=5f92da27162747ceea32eb3469dcac845e5cda5c4f0148b3016935db44f43747")
  pin("zarr v3 transposed", ZarrDirectoryIndex.read(spark, zarrV3Transposed),
    "rows=10 sha256=4a65954d95eeacce38afbff7c53837dac8c3bc4521f6e9533e08bd3c78dbbb5b")

  // ------------------------------------------------------- netCDF classic

  private lazy val nc3: String = write("cf.nc", Nc3CfFixture.bytes())

  /** The CF fixture as the second member of a ustar archive. */
  private lazy val nc3Tar: String = {
    def header(name: String, size: Long): Array[Byte] = {
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, h, off, b.length)
      }
      put(0, name); put(100, "0000644\u0000"); put(108, "0000000\u0000")
      put(116, "0000000\u0000"); put(124, f"$size%011o" + "\u0000")
      put(136, "00000000000\u0000"); put(148, "        "); h(156) = '0'
      put(257, "ustar\u0000"); put(263, "00")
      put(148, f"${h.map(_ & 0xff).sum}%06o" + "\u0000 ")
      h
    }
    val bos = new java.io.ByteArrayOutputStream()
    def add(name: String, data: Array[Byte]): Unit = {
      bos.write(header(name, data.length.toLong)); bos.write(data)
      bos.write(new Array[Byte]((512 - data.length % 512) % 512))
    }
    add("README.txt", "decoy member\n".getBytes("US-ASCII"))
    add("cf.nc", Nc3CfFixture.bytes())
    bos.write(new Array[Byte](1024))
    s"tar://cf.nc::${write("cf.tar", bos.toByteArray)}"
  }

  pin("netCDF-3 CF fixture", NetCDF3Index.read(spark, nc3),
    "rows=26 sha256=ec29bac3b1efc5a96031661482221e77dd5884a78e967f12a1f6a88845f08edc")
  pin("netCDF-3 CF fixture in a tar", NetCDF3Index.read(spark, nc3Tar),
    "rows=26 sha256=18df35d4a81bf1b35f3a7619bf7583fd7ee593fdb1ec27574e5365f628aabcec")
  pin("netCDF-3 readMany", NetCDF3Index.readMany(spark, Seq(nc3, nc3Tar)),
    "rows=52 sha256=f2f7b53acf7d293c1b3fc9e7cb53f0611ff703040fdc887435388b3a4361dd0f")

  // ----------------------------------------------------------------- HDF5

  private lazy val h5v4: String =
    write("h5v4.nc", Files.readAllBytes(java.nio.file.Paths.get(
      graft.gates.CatalogScanGates.ensureHdf5V4Fixture())))

  /** Deflate-filtered single-chunk and fixed-array datasets. */
  private lazy val h5Filtered: String = {
    import Hdf5V4Fixture._
    write("h5filtered.nc", file { s =>
      val scComp = deflate(i32(7, 8, 9, 10))
      val scData = s.pos; s.bytes(scComp)
      val sc = ohdr(s, Seq(
        0x01 -> dataspace2(Seq(4)), 0x03 -> dtInt32, 0x0B -> pipelineDeflate,
        0x08 -> layoutV4(Seq(4), 1, scData, flags = 0x02,
          singleFilteredSize = scComp.length.toLong)))
      val ch0 = deflate(i32(20, 21)); val ch1 = deflate(i32(22, 23))
      val a0 = s.pos; s.bytes(ch0)
      val a1 = s.pos; s.bytes(ch1)
      val fafHdr = fixedArray(s, clientId = 1, entrySize = 16, pageBits = 10,
        Seq((a0, ch0.length.toLong), (a1, ch1.length.toLong)))
      val faf = ohdr(s, Seq(
        0x01 -> dataspace2(Seq(4)), 0x03 -> dtInt32, 0x0B -> pipelineDeflate,
        0x08 -> layoutV4(Seq(2), 3, fafHdr)))
      Seq("sc" -> sc, "faf" -> faf)
    })
  }

  pin("HDF5 layout-v4 fixture", Hdf5Index.read(spark, h5v4),
    "rows=23 sha256=0d1a4a39a429d643a4f539df29a5045b2350583143f531d2d2cbadcf7eca63da")
  pin("HDF5 deflate-filtered", Hdf5Index.read(spark, h5Filtered),
    "rows=8 sha256=9cdba668d5dad273318c614a78db8855085f511251a42f8ccfff0371b0a3fe3a")
  pin("HDF5 readMany", Hdf5Index.readMany(spark, Seq(h5v4, h5Filtered)),
    "rows=31 sha256=6b908d125ffba8748256c8d089e58e98cff7ca77018665638c861a5f8205a4f0")

  // ----------------------------------------------------------------- DAP2

  private def dapHost(url: String): (String, String) =
    url.substring(0, url.indexOf('/', "http://".length)) -> "$DAP"

  /** The `nation`/`region` tables the DAP2 `nation` dataset is served
    * from: 7 nations over 3 named regions. */
  private lazy val dapTables: String = {
    val d = dir("dap_tables")
    (0L until 7L).map(i => (i, i % 3)).toDF("n_nationkey", "n_regionkey")
      .coalesce(1).write.parquet(s"$d/nation.parquet")
    Seq((0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$d/region.parquet")
    d
  }

  private lazy val dapNation = Dap2Fixture.ensure(spark, dapTables)
  private lazy val dapStruct = Dap2Fixture.ensureStruct(spark)
  private lazy val dapSeq    = Dap2Fixture.ensureSeq(spark)

  test("DAP2 entry rows are pinned") {
    val got = Seq(dapNation, dapStruct, dapSeq)
      .map(url => digest(Dap2Index.read(spark, url), dapHost(url)))
    assert(got == Seq(
      "rows=26 sha256=cee953bf6e56f84277b33395a2d9b677e4ca2bf6df07cee2e379a8d263b1ae63",
      "rows=14 sha256=e7767296bfb1beeb4eb5aa492c086c17400c099e7e60ed8caf63245bf405e94c",
      "rows=7 sha256=9864ad9e83e1ac2ff6283a8a2ad3391ffac660ef2a7e4e4d8a8208fb262b9366"), got.mkString("\n"))
  }

  // ------------------------------------------------------------- kerchunk

  private def b64(xs: Double*): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * xs.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(bb.putDouble)
    "base64:" + java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private val q = "\\\""

  private def zarrayDoc(shape: String, chunks: String): String =
    s"{${q}dtype$q: $q<f8$q, ${q}shape$q: $shape, ${q}chunks$q: $chunks, " +
      s"${q}compressor$q: null, ${q}filters$q: null, ${q}order$q: ${q}C$q, ${q}zarr_format$q: 2}"

  /** An index with inline (plain and base64), byte-range and whole-file
    * refs, and a root-level inline key. `k` offsets the values. */
  private def kerchunkIndex(name: String, k: Int): String = {
    val data = write(s"$name.bin", new Array[Byte](64))
    text(s"$name.json",
      s"""{"version": 1, "refs": {
         |  ".zgroup": "{${q}zarr_format$q: 2}",
         |  ".zattrs": "{${q}title$q: ${q}kerchunk $k$q}",
         |  "v/.zarray": "${zarrayDoc("[6]", "[2]")}",
         |  "v/.zattrs": "{${q}_ARRAY_DIMENSIONS$q: [${q}x$q]}",
         |  "v/0": "${b64(k + 0.5, k + 1.5)}",
         |  "v/1": ["file://$data", 16, 16],
         |  "v/2": ["file://$data"],
         |  "c/.zarray": "${zarrayDoc("[2]", "[2]")}",
         |  "c/.zattrs": "{${q}_ARRAY_DIMENSIONS$q: [${q}y$q]}",
         |  "c/0": "${b64(1.0, 2.0)}",
         |  "note": "plain inline text"
         |}}""".stripMargin)
  }

  private lazy val kerchunkA = kerchunkIndex("kerchunk_a", 0)
  private lazy val kerchunkB = kerchunkIndex("kerchunk_b", 10)

  private lazy val kerchunkTemplated: String = {
    val data = write("tpl.bin", new Array[Byte](160))
    text("tpl.json",
      s"""{"version": 1,
         | "templates": {"u": "file://$data"},
         | "gen": [
         |   {"key": "gen/{{i}}", "url": "{{u}}", "offset": "{{(i + 2) * 16}}",
         |    "length": "16", "dimensions": {"i": {"stop": 4}}},
         |   {"key": "grid/{{r}}.{{c}}", "url": "{{ u }}",
         |    "offset": "{{96 + (r * 2 + c) * 16}}", "length": "16",
         |    "dimensions": {"r": {"stop": 2}, "c": [0, 1]}}
         | ],
         | "refs": {
         |  ".zgroup": "{${q}zarr_format$q: 2}",
         |  "solo/.zarray": "${zarrayDoc("[4]", "[4]")}",
         |  "solo/0": ["{{ u }}", 0, 16],
         |  "gen/.zarray": "${zarrayDoc("[16]", "[4]")}",
         |  "gen/0": ["{{u}}", 0, 16],
         |  "grid/.zarray": "${zarrayDoc("[2, 8]", "[1, 4]")}"
         |}}""".stripMargin)
  }

  private lazy val kerchunkParquet: String = {
    val d = root.resolve("kerchunk_parq").toString
    KerchunkIndex.writeParquetRefs(KerchunkIndex.read(spark, kerchunkA)
      .filter($"key" =!= "note"), d, recordSize = 2)
    d
  }

  pin("kerchunk JSON", KerchunkIndex.read(spark, kerchunkA),
    "rows=11 sha256=fb68194e10e9a2635c36b7d1478545e148282b048901e997eea90a5673f208da")
  pin("kerchunk JSON with templates", KerchunkIndex.read(spark, kerchunkTemplated),
    "rows=13 sha256=1cccca53a79fdee1cf77e8170804d294376fabe86a1f0f33bab12da99faaaa36")
  pin("kerchunk readMany", KerchunkIndex.readMany(spark, Seq(kerchunkA, kerchunkB)),
    "rows=22 sha256=97e3e711ff2a48f979b693f4a887a1984f6fcc6be0c1678a2bfc5fc9c4e4c053")
  pin("kerchunk combineAlong",
    KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(kerchunkA, kerchunkB))
      .filter($"key" =!= "note"), "x"),
    "rows=13 sha256=e8ffc16f7482dfec77135173979a0097c6899a5b02cc86e59675504ed8f65cfe")
  pin("kerchunk parquet refs", KerchunkIndex.open(spark, kerchunkParquet),
    "rows=10 sha256=fd10102129c3e968347ddec37f97315378357ed6e43385e2645752800f3fecde")

  // ---------------------------------------------------------- source scan

  test("only Entries spells the entry column list or the entry tuple type") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir), s"$dir is not under ${new java.io.File(".").getAbsolutePath}")
    val names = Seq("key", "variable", "member", "kind", "url", "offset", "length",
      "inline_value")
    // the names as string literals, in order, a few non-quote characters
    // apart: a `toDF(...)` or `select(...)` list, or `col("key"), …`
    val columnList = names.map(n => "\"" + n + "\"").mkString("[^\"]{0,12}").r
    val tupleType = ("\\(\\s*String\\s*,\\s*String\\s*,\\s*String\\s*,\\s*String\\s*," +
      "\\s*(Option\\[String\\]|String)\\s*,\\s*Option\\[Long\\]\\s*,\\s*Option\\[Long\\]\\s*," +
      "\\s*(Option\\[String\\]|String)\\s*\\)").r
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val readers = Seq("KerchunkIndex", "ZarrDirectoryIndex", "NetCDF3Index", "Hdf5Index",
      "Dap2Index")
    assert(readers.forall(r => files.exists(_.getFileName.toString == s"$r.scala")),
      files.toString)
    val offenders = for {
      f <- files if f.getFileName.toString != "Entries.scala"
      text = Files.readString(f).replaceAll("\\s+", " ")
      pattern <- Seq(columnList, tupleType) if pattern.findFirstIn(text).isDefined
    } yield s"${f.getFileName}: ${pattern.findFirstIn(text).get}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the patterns do match the spellings they stand for
    assert(columnList.findFirstIn(
      """.toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")""")
      .isDefined)
    assert(tupleType.findFirstIn(
      "Iterator[(String, String, String, String, String, Option[Long], Option[Long], String)]")
      .isDefined)
  }
}
