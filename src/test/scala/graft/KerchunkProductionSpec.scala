package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{KerchunkIndex, KerchunkTemplates}

/** Kerchunk at production index sizes (fsspec reference filesystem, which
  * the reference inherits via `reference://`, source.py:70-137): the v1
  * `templates`/`gen` jinja-subset compiler's semantics and refusals, and
  * the parquet reference-store reader's layout contract. The happy paths
  * are gate-checked against DuckDB (scan/load_kerchunk_templated,
  * scan_kerchunk_parquet_refs, load_kerchunk_parquet); this spec pins the
  * loud-refusal edges and the arithmetic corner semantics. */
class KerchunkProductionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def scope(vals: (String, KerchunkTemplates.Value)*): String => Option[KerchunkTemplates.Value] =
    vals.toMap.get

  private def eval(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).head().get(0)

  // ------------------------------------------------------- template compiler

  test("jinja subset: holes render, whitespace tolerated, ints as decimal") {
    val s = scope(
      "u" -> KerchunkTemplates.Value(lit("file:///data"), numeric = false),
      "i" -> KerchunkTemplates.Value(lit(7L), numeric = true))
    assert(eval(KerchunkTemplates.render("{{ u }}/part{{i}}.bin", s, "t")) == "file:///data/part7.bin")
    assert(eval(KerchunkTemplates.renderLong("{{(i + 10) * 1000}}", s, "t")) == 17000L)
    assert(eval(KerchunkTemplates.render("", s, "t")) == "")
  }

  test("jinja subset: python floor-division and modulo semantics, exactly") {
    // python: -7 // 2 == -4, -7 % 2 == 1, 7 // -2 == -4, 7 % -2 == -1
    val s = scope("a" -> KerchunkTemplates.Value(lit(-7L), numeric = true))
    assert(eval(KerchunkTemplates.renderLong("{{a // 2}}", s, "t")) == -4L)
    assert(eval(KerchunkTemplates.renderLong("{{a % 2}}", s, "t")) == 1L)
    assert(eval(KerchunkTemplates.renderLong("{{7 // (0 - 2)}}", s, "t")) == -4L)
    assert(eval(KerchunkTemplates.renderLong("{{7 % (0 - 2)}}", s, "t")) == -1L)
    // exactness beyond double's 2^53 mantissa — a float round-trip would be off
    val big = scope("b" -> KerchunkTemplates.Value(lit((1L << 55) + 3L), numeric = true))
    assert(eval(KerchunkTemplates.renderLong("{{b // 2}}", big, "t")) == (1L << 54) + 1L)
  }

  test("jinja subset: everything beyond the v1 surface refuses loudly") {
    val s = scope(
      "u" -> KerchunkTemplates.Value(lit("x"), numeric = false),
      "i" -> KerchunkTemplates.Value(lit(1L), numeric = true))
    def refused(t: String): String =
      intercept[IllegalArgumentException](KerchunkTemplates.render(t, s, "ctx")).getMessage
    assert(refused("{% for x in y %}").contains("statements"))
    assert(refused("{{i").contains("unterminated"))
    assert(refused("{{i / 2}}").contains("TRUE division"))
    assert(refused("{{u | upper}}").contains("unsupported jinja"))
    assert(refused("{{missing}}").contains("unknown identifier"))
    assert(refused("{{u + 1}}").contains("arithmetic"))
    assert(refused("{{i 2}}").contains("trailing"))
  }

  // ----------------------------------------------------------- v1 index edges

  private def writeIndex(content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_spec")
    val f = dir.resolve("index.json")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("gen with offset but no length refuses (fsspec v1 rule)") {
    val idx = writeIndex(
      """{"version": 1, "gen": [{"key": "a/{{i}}", "url": "file:///x", "offset": "0",
        |  "dimensions": {"i": {"stop": 2}}}], "refs": {}}""".stripMargin)
    val e = intercept[IllegalArgumentException](KerchunkIndex.read(spark, idx))
    assert(e.getMessage.contains("both 'offset' and 'length'"))
  }

  test("templates/gen on a non-v1 document refuse — their semantics are v1-only") {
    val idx = writeIndex("""{"templates": {"u": "x"}, "refs": {"a": "inline"}}""")
    val e = intercept[IllegalArgumentException](KerchunkIndex.read(spark, idx))
    assert(e.getMessage.contains("v1-only"))
  }

  test("an unresolved {{hole}} in a ref url refuses per row, never renders empty") {
    val idx = writeIndex(
      """{"version": 1, "templates": {"u": "file:///x"},
        | "refs": {"a/0": ["{{nope}}", 0, 4]}}""".stripMargin)
    val e = intercept[Exception] {
      KerchunkIndex.read(spark, idx).collect()
    }
    assert(e.getMessage.contains("{{") || Option(e.getCause).exists(_.getMessage.contains("{{")))
  }

  test("gen list dimensions: string lists substitute verbatim, range honors start/step") {
    val idx = writeIndex(
      """{"version": 1,
        | "gen": [{"key": "v/{{tag}}_{{n}}", "url": "file:///{{tag}}/{{n}}",
        |   "dimensions": {"tag": ["aa", "bb"], "n": {"start": 4, "stop": 10, "step": 3}}}],
        | "refs": {}}""".stripMargin)
    val got = KerchunkIndex.read(spark, idx)
      .select("key", "url").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got.toSeq == Seq(
      ("v/aa_4", "file:///aa/4"), ("v/aa_7", "file:///aa/7"),
      ("v/bb_4", "file:///bb/4"), ("v/bb_7", "file:///bb/7")))
  }

  // ------------------------------------------------------ parquet ref stores

  test("open() dispatch: a directory without .zmetadata refuses loudly") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_nometa")
    val e = intercept[IllegalArgumentException](KerchunkIndex.open(spark, dir.toString))
    assert(e.getMessage.contains(".zmetadata"))
  }

  test("parquet store: a stray parquet file refuses instead of mis-keying rows") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_stray")
    java.nio.file.Files.writeString(dir.resolve(".zmetadata"),
      """{"metadata": {"v/.zarray": {"shape": [2], "chunks": [2], "dtype": "<i4",
        |  "compressor": null, "filters": null, "order": "C", "zarr_format": 2}},
        | "record_size": 10}""".stripMargin)
    java.nio.file.Files.createDirectories(dir.resolve("v"))
    import spark.implicits._
    Seq(("file:///x", 0L, 8L, null: Array[Byte])).toDF("path", "offset", "size", "raw")
      .coalesce(1).write.parquet(dir.resolve("v/sub").toString)
    // move the part file to a non-refs name inside the variable dir
    val part = java.nio.file.Files.list(dir.resolve("v/sub")).iterator()
    var moved = false
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.startsWith("part-")) {
        java.nio.file.Files.move(p, dir.resolve("v/stray.parquet")); moved = true
      }
    }
    assert(moved)
    org.apache.commons.io.FileUtils.deleteQuietly(dir.resolve("v/sub").toFile)
    val e = intercept[Exception] {
      KerchunkIndex.readParquetRefs(spark, dir.toString).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("refs.<N>.parq") || msg.contains("unexpected file"))
  }

  // -------------------------------------------------------------- combine

  private def combineIndex(dir: java.nio.file.Path, name: String, extent: Int,
                           offset: Int, chunks: Int = 2, dtype: String = "<i4"): String = {
    val bos = new java.io.ByteArrayOutputStream()
    def i4(vals: Seq[Int]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * vals.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(b.putInt); b.array()
    }
    def slice(bytes: Array[Byte]): String = {
      val off = bos.size(); bos.write(bytes)
      s"""["file://$dir/$name.bin", $off, ${bytes.length}]"""
    }
    val refs = (0 until (extent + chunks - 1) / chunks).map { c =>
      val vals = (0 until chunks).map { j =>
        val t = c * chunks + j
        if (t < extent) (offset + t) * 7 else -1
      }
      s""""v/$c": ${slice(i4(vals))}"""
    }
    java.nio.file.Files.write(dir.resolve(s"$name.bin"), bos.toByteArray)
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    val f = dir.resolve(s"$name.json")
    java.nio.file.Files.writeString(f,
      s"""{"version": 1, "refs": {
         |  "v/.zarray": ${jstr(s"""{"zarr_format": 2, "dtype": "$dtype", """ +
            s""""shape": [$extent], "chunks": [$chunks], "compressor": null, """ +
            """"filters": null, "order": "C"}""")},
         |  "v/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["time"]}""")},
         |  ${refs.mkString(",\n  ")}
         |}}""".stripMargin)
    f.toString
  }

  test("combine: interior ragged source, codec mismatch, wrong dim all refuse loudly") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_cmb")
    val a = combineIndex(dir, "a", 4, 0)
    val ragged = combineIndex(dir, "rag", 3, 4)   // 3 % 2 != 0
    val c = combineIndex(dir, "c", 4, 8)
    val otherDtype = combineIndex(dir, "dt", 4, 8, dtype = "<i8")
    import graft.sources.KerchunkIndex
    def comb(paths: Seq[String], dim: String = "time") =
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, paths), dim)
    val e1 = intercept[IllegalArgumentException] { comb(Seq(a, ragged, c)) }
    assert(e1.getMessage.contains("interior ragged"), e1.getMessage)
    comb(Seq(a, c, ragged)) // ragged LAST is legal
    val e2 = intercept[IllegalArgumentException] { comb(Seq(a, otherDtype)) }
    assert(e2.getMessage.contains("minus shape"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] { comb(Seq(a, c), dim = "nope") }
    assert(e3.getMessage.contains("NO variable"), e3.getMessage)
  }

  test("combine: identical variable with differing metadata refuses") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_cmb2")
    def idx(name: String, latShape: Int): String = {
      def jstr(s: String): String =
        "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
      val f = dir.resolve(s"$name.json")
      java.nio.file.Files.writeString(f,
        s"""{"version": 1, "refs": {
           |  "v/.zarray": ${jstr("""{"zarr_format": 2, "dtype": "<i4", "shape": [2], """ +
              """"chunks": [2], "compressor": null, "filters": null, "order": "C"}""")},
           |  "v/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["time"]}""")},
           |  "v/0": "base64:AAAAAAEAAAA=",
           |  "lat/.zarray": ${jstr(s"""{"zarr_format": 2, "dtype": "<i4", """ +
              s""""shape": [$latShape], "chunks": [$latShape], "compressor": null, """ +
              """"filters": null, "order": "C"}""")},
           |  "lat/0": "base64:AAAAAA=="
           |}}""".stripMargin)
      f.toString
    }
    import graft.sources.KerchunkIndex
    val e = intercept[IllegalArgumentException] {
      KerchunkIndex.combineAlong(
        KerchunkIndex.readMany(spark, Seq(idx("p", 1), idx("q", 2))), "time")
    }
    assert(e.getMessage.contains("not an identical variable"), e.getMessage)
  }

  test("combine: readMany refuses templated documents with a pointer to read()") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_cmb3")
    val plain = combineIndex(dir, "p", 4, 0)
    val templ = dir.resolve("t.json")
    java.nio.file.Files.writeString(templ,
      """{"version": 1, "templates": {"u": "file:///x"}, "refs": {"a/0": ["{{u}}", 0, 4]}}""")
    val e = intercept[Exception] {
      graft.sources.KerchunkIndex.readMany(spark, Seq(plain, templ.toString)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("templates/gen"), msg)
  }

  test("combineAlongCoords: overlapping sources and a missing coordinate var refuse") {
    import graft.sources.KerchunkIndex
    // the gate fixture's sources carry a real `time` coordinate var; a
    // duplicated source double-covers time 0..3 → overlap refusal
    val paths = gates.CatalogScanGates.ensureKerchunkCombineFixture()
    val dup = java.nio.file.Files.createTempDirectory("kerchunk_dup").resolve("again.json")
    java.nio.file.Files.copy(java.nio.file.Paths.get(paths.head), dup)
    val e1 = intercept[IllegalArgumentException] {
      KerchunkIndex.combineAlongCoords(
        KerchunkIndex.readMany(spark, Seq(paths.head, dup.toString)), "time")
    }
    assert(e1.getMessage.contains("overlap"), e1.getMessage)
    // combineIndex's sources declare dims ["time"] but carry NO `time`
    // coordinate variable → the coords mode refuses with a pointer at
    // the explicit-order form
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_nocoord")
    val a = combineIndex(dir, "a", 4, 0)
    val b = combineIndex(dir, "b", 4, 4)
    val e2 = intercept[IllegalArgumentException] {
      KerchunkIndex.combineAlongCoords(KerchunkIndex.readMany(spark, Seq(a, b)), "time")
    }
    assert(e2.getMessage.contains("coordinate variable"), e2.getMessage)
  }

  test("combine → writeParquetRefs: the per-file-JSON to one-parquet-index pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_cmb4")
    val paths = Seq(combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 3, 4))
    import graft.sources.KerchunkIndex
    val combined = KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, paths), "time")
    val store = dir.resolve("store").toString
    KerchunkIndex.writeParquetRefs(combined, store, recordSize = 3)
    def cells(entries: org.apache.spark.sql.DataFrame) =
      KerchunkIndex.decodeCoords(
          KerchunkIndex.materializeChunks(entries),
          KerchunkIndex.arrayMeta(entries), KerchunkIndex.attrDims(entries))
        .select("coords", "value").collect()
        .map(r => (r.getSeq[Long](0).head, r.getDouble(1))).toSet
    val want = (0 until 7).map(t => (t.toLong, (t * 7).toDouble)).toSet
    assert(cells(combined) == want)
    assert(cells(KerchunkIndex.open(spark, store)) == want) // survives the migration
  }

  private def storeCells(store: String): Set[(Long, Double)] = {
    val entries = KerchunkIndex.open(spark, store)
    KerchunkIndex.decodeCoords(
        KerchunkIndex.materializeChunks(entries),
        KerchunkIndex.arrayMeta(entries), KerchunkIndex.attrDims(entries))
      .select("coords", "value").collect()
      .map(r => (r.getSeq[Long](0).head, r.getDouble(1))).toSet
  }

  test("appendParquetRefs: equals the one-shot build; earlier records stay byte-untouched (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_app")
    val (a, b, c) = (combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 4, 4),
      combineIndex(dir, "c", 3, 8))
    val store = dir.resolve("store").toString
    // base store from a+b: 8 cells → 4 chunks → record 0 (rows 0-2, full)
    // and record 1 (row 3, partial — THE boundary the append must rewrite)
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(a, b)), "time"),
      store, recordSize = 3)
    val rec0 = java.nio.file.Paths.get(store, "v", "refs.0.parq")
    val rec1 = java.nio.file.Paths.get(store, "v", "refs.1.parq")
    val rec0Before = java.nio.file.Files.readAllBytes(rec0)
    val rec1Before = java.nio.file.Files.readAllBytes(rec1)
    KerchunkIndex.appendParquetRefs(spark, store,
      KerchunkIndex.readMany(spark, Seq(c)), "time")
    // record 0 never left the disk; the boundary record was rewritten
    assert(java.util.Arrays.equals(rec0Before, java.nio.file.Files.readAllBytes(rec0)))
    assert(!java.util.Arrays.equals(rec1Before, java.nio.file.Files.readAllBytes(rec1)))
    // cells = the one-shot three-source build, chunk map hash-identical
    val oneShot = dir.resolve("oneshot").toString
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(a, b, c)), "time"),
      oneShot, recordSize = 3)
    val want = (0 until 11).map(t => (t.toLong, (t * 7).toDouble)).toSet
    assert(storeCells(store) == want)
    assert(storeCells(oneShot) == want)
    def entryRows(s: String) = KerchunkIndex.open(spark, s)
      .select("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        // paths differ only in the store dir, never per entry; urls point
        // at the ORIGINAL data files so they must be equal verbatim
        r.getString(4), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))).toSet
    assert(entryRows(store) == entryRows(oneShot))
    // a second append refuses: nothing grows (the sources double-cover)
    val e = intercept[Exception] {
      KerchunkIndex.appendParquetRefs(spark, store,
        KerchunkIndex.readMany(spark, Seq(c)), "time")
    }
    // specifically the no-growth refusal (either appendParquetRefs' own
    // "nothing grew" or combineAlong's no-op arbitration upstream of it),
    // not just any failure
    assert(e.getMessage.contains("nothing grew") ||
      e.getMessage.contains("kerchunk combine along"),
      s"unexpected refusal message: ${e.getMessage}")
  }

  test("appendParquetRefs failure: old boundary record intact, no .inprogress left (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_app_abort")
    val (a, b, c) = (combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 4, 4),
      combineIndex(dir, "c", 3, 8))
    val store = dir.resolve("store").toString
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(a, b)), "time"),
      store, recordSize = 3)
    val rec1 = java.nio.file.Paths.get(store, "v", "refs.1.parq")
    val rec1Before = java.nio.file.Files.readAllBytes(rec1)
    val before = storeCells(store)
    // poison ONE plane of the new source (offset kept, length dropped):
    // every combine guard passes and the refusal fires INSIDE the
    // record-file writer, after the boundary .inprogress is already open
    // — the task must ABORT without renaming (a padded half-file swapped
    // over the old record would silently read as missing chunks)
    import org.apache.spark.sql.functions.{col, lit, when}
    val poisoned = KerchunkIndex.readMany(spark, Seq(c))
      .withColumn("length",
        when(col("kind") === "ref", lit(null).cast("long")).otherwise(col("length")))
    val e = intercept[Exception] {
      KerchunkIndex.appendParquetRefs(spark, store, poisoned, "time")
    }
    val texts = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(texts.contains("byte range needs both"), texts.take(400))
    // the failed append left the store byte-identical, readable, tmp-free
    assert(java.util.Arrays.equals(rec1Before, java.nio.file.Files.readAllBytes(rec1)))
    val stray = java.nio.file.Files.list(java.nio.file.Paths.get(store, "v"))
      .toArray.map(_.toString).filter(_.contains("inprogress"))
    assert(stray.isEmpty, stray.mkString(","))
    assert(storeCells(store) == before)
  }

  test("appendParquetRefs: a .zmetadata write failing midway leaves the previous document byte-identical") {
    // the append commits the grown .zmetadata LAST; a truncate-in-place
    // write that dies midway would leave a torn document — unparseable,
    // so the store would no longer open
    import graft.harness.FaultInjectingFs
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_app_meta")
    val (a, b, c) = (combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 4, 4),
      combineIndex(dir, "c", 3, 8))
    val store = dir.resolve("store").toString
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(a, b)), "time"),
      store, recordSize = 3)
    val metaPath = java.nio.file.Paths.get(store, ".zmetadata")
    val before = java.nio.file.Files.readAllBytes(metaPath)
    FaultInjectingFs.failNextCreate(_.contains(".zmetadata"), afterBytes = 16)
    val e = intercept[Exception] {
      KerchunkIndex.appendParquetRefs(spark, FaultInjectingFs.path(store),
        KerchunkIndex.readMany(spark, Seq(c)), "time", FaultInjectingFs.options)
    }
    assert(FaultInjectingFs.disarm(), "the .zmetadata write never started")
    val texts = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(texts.contains("injected fault"), texts.take(400))
    assert(java.util.Arrays.equals(before, java.nio.file.Files.readAllBytes(metaPath)))
  }

  test("appendParquetRefs: record-aligned boundary (no rewrite) and multi-source append (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_app3")
    val (a, b, c) = (combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 4, 4),
      combineIndex(dir, "c", 3, 8))
    // recordSize 2 and a 4-cell base → 2 chunks fill record 0 EXACTLY:
    // the boundary record file does not exist, so the append writes only
    // NEW record files and record 0 stays byte-untouched
    val store = dir.resolve("store").toString
    KerchunkIndex.writeParquetRefs(KerchunkIndex.read(spark, a), store, recordSize = 2)
    val rec0 = java.nio.file.Paths.get(store, "v", "refs.0.parq")
    val before = java.nio.file.Files.readAllBytes(rec0)
    // TWO new sources in one append (the daily-batch shape)
    KerchunkIndex.appendParquetRefs(spark, store,
      KerchunkIndex.readMany(spark, Seq(b, c)), "time")
    assert(java.util.Arrays.equals(before, java.nio.file.Files.readAllBytes(rec0)))
    val want = (0 until 11).map(t => (t.toLong, (t * 7).toDouble)).toSet
    assert(storeCells(store) == want)
    // chunk map equals the one-shot triple build at the same record size
    val oneShot = dir.resolve("oneshot").toString
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.combineAlong(KerchunkIndex.readMany(spark, Seq(a, b, c)), "time"),
      oneShot, recordSize = 2)
    def keys(s: String) = KerchunkIndex.open(spark, s)
      .select("key", "url", "offset", "length").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSet
    assert(keys(store) == keys(oneShot))
  }

  test("appendParquetRefs refusals: not a store, non-leading concat axis (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_app2")
    // not a parquet reference store
    assert(intercept[IllegalArgumentException] {
      KerchunkIndex.appendParquetRefs(spark, dir.toString,
        KerchunkIndex.readMany(spark, Seq(combineIndex(dir, "x", 2, 0))), "time")
    }.getMessage.contains(".zmetadata"))
    // time as the SECOND axis: existing flat indices would shift — refuse
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    def idx2d(name: String): String = {
      val f = dir.resolve(s"$name.json")
      java.nio.file.Files.writeString(f,
        s"""{"version": 1, "refs": {
           |  "w/.zarray": ${jstr("""{"zarr_format": 2, "dtype": "<i4", """ +
              """"shape": [2, 2], "chunks": [2, 2], "compressor": null, """ +
              """"filters": null, "order": "C"}""")},
           |  "w/.zattrs": ${jstr("""{"_ARRAY_DIMENSIONS": ["x", "time"]}""")}
           |}}""".stripMargin)
      f.toString
    }
    val store2 = dir.resolve("store2").toString
    KerchunkIndex.writeParquetRefs(KerchunkIndex.read(spark, idx2d("p")), store2,
      recordSize = 3)
    assert(intercept[IllegalArgumentException] {
      KerchunkIndex.appendParquetRefs(spark, store2,
        KerchunkIndex.readMany(spark, Seq(idx2d("q"))), "time")
    }.getMessage.contains("LEADING"))
  }

  test("parquet-ref store takes the shared writer lease; a held lease refuses (r16)") {
    // the third store on the shared single-writer convention (bm25/ann):
    // write and append both hold the create-exclusive lease, so two
    // writers refuse at acquisition instead of racing the record swap
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_lease")
    val store = dir.resolve("store").toString
    val entries = KerchunkIndex.read(spark, combineIndex(dir, "a", 2, 0))
    KerchunkIndex.writeParquetRefs(entries, store, recordSize = 3)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = graft.sources.StoreMeta.lockPath(root)
    assert(!fs.exists(lock)) // a finished writer leaves no lease
    fs.create(lock, false).close()
    assert(intercept[IllegalStateException] {
      KerchunkIndex.writeParquetRefs(entries, store, recordSize = 3)
    }.getMessage.contains("holds the lease"))
    assert(intercept[IllegalStateException] {
      KerchunkIndex.appendParquetRefs(spark, store,
        KerchunkIndex.readMany(spark, Seq(combineIndex(dir, "b", 2, 2))), "time")
    }.getMessage.contains("holds the lease"))
    // readers take no lease
    assert(KerchunkIndex.readParquetRefs(spark, store).count() > 0)
    fs.delete(lock, false)
    KerchunkIndex.appendParquetRefs(spark, store,
      KerchunkIndex.readMany(spark, Seq(combineIndex(dir, "b", 2, 2))), "time")
    assert(!fs.exists(lock))
  }

  test("parquet-ref rebuild stages + swaps: failed rebuild keeps the prior store; crashed swap heals (r17)") {
    // r16 ADVICE: writeParquetRefs deleted the prior store and rebuilt in
    // place — a crash mid-write destroyed it with no recovery, unlike the
    // bm25/ann builds. Now it stages into the hidden sibling (.zmetadata
    // LAST, the completion marker) and commits via the shared rename-aside
    // swap, so the three stores share one crash posture.
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_stage")
    val store = dir.resolve("store").toString
    val goodA = KerchunkIndex.read(spark, combineIndex(dir, "a", 4, 0))
    KerchunkIndex.writeParquetRefs(goodA, store, recordSize = 3)
    val before = storeCells(store)
    assert(before.nonEmpty)
    // a rebuild that FAILS inside the record-file write (byte-range ref
    // missing its length) must leave the prior store byte-intact — the
    // failure lands in the staged sibling, never the live root
    import org.apache.spark.sql.functions.{col, lit, when}
    val poisoned = KerchunkIndex.read(spark, combineIndex(dir, "b", 4, 0))
      .withColumn("length",
        when(col("kind") === "ref", lit(null).cast("long")).otherwise(col("length")))
    intercept[Exception] { KerchunkIndex.writeParquetRefs(poisoned, store, recordSize = 3) }
    assert(storeCells(store) == before)
    // a crashed SWAP (between the two renames: root parked at .old, the
    // complete new store at the staged sibling) heals on the next open —
    // the staged .zmetadata committed last ⇒ the new store is authoritative
    val fresh = dir.resolve("fresh").toString
    KerchunkIndex.writeParquetRefs(
      KerchunkIndex.read(spark, combineIndex(dir, "c", 3, 0)), fresh, recordSize = 3)
    val freshCells = storeCells(fresh)
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = graft.sources.StoreMeta.stagedSibling(root)
    val old = graft.sources.StoreMeta.oldSibling(root)
    // the poisoned rebuild above left its incomplete staged sibling (by
    // design — the next build clears it); clear it to manufacture the
    // crashed-swap state cleanly
    if (fs.exists(staged)) fs.delete(staged, true)
    assert(fs.rename(root, old))
    assert(fs.rename(new org.apache.hadoop.fs.Path(fresh), staged))
    assert(storeCells(store) == freshCells) // open healed and serves the new store
    assert(!fs.exists(staged) && !fs.exists(old))
    // and a rebuild over a leftover .old with NO staged sibling (not a
    // crashed swap — that always leaves the complete staged store; this is
    // litter) clears it via swapInto's stale-sibling rule and proceeds
    assert(fs.rename(root, old))
    KerchunkIndex.writeParquetRefs(goodA, store, recordSize = 3)
    assert(storeCells(store) == before)
    assert(!fs.exists(old))
  }

  test("combineAlong: a data row whose variable has no .zarray anywhere refuses (r13)") {
    // ADVICE r12: such rows were silently dropped from sources >= 1 (the
    // identical-variable filter kept only source 0's)
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_orph")
    val paths = Seq(combineIndex(dir, "a", 4, 0), combineIndex(dir, "b", 3, 4))
    import spark.implicits._
    val orphan = Seq(("ghost/0", "ghost", "0", "inline", null: String,
      Option.empty[Long], Option.empty[Long], "AAAA")).toDF(
      "key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
      .withColumn("__src", lit(1))
    val tagged = KerchunkIndex.readMany(spark, paths).unionByName(orphan)
    val e = intercept[Exception] {
      KerchunkIndex.combineAlong(tagged, "time").filter(col("kind") =!= "meta").count()
    }
    assert(e.getMessage.contains("no .zarray in any source"), e.getMessage)
  }

  // ------------------------------------------------------ parquet ref WRITER

  private def entryDf(rows: Seq[(String, String, String, String, String, Option[Long], Option[Long], String)]) = {
    import spark.implicits._
    rows.toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
  }

  test("writer: inline, byte-range, whole-file and MISSING chunks round-trip positionally") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_wr")
    val data = dir.resolve("data.bin")
    java.nio.file.Files.write(data, (0 until 32).map(_.toByte).toArray)
    // v: 5 chunks of [2] over shape [10]; chunk 1 MISSING, chunk 2 inline
    // base64, chunk 3 inline text, chunk 4 whole-file — recordSize 2 puts
    // the missing chunk at record 0 row 1 (must pad as nulls) and spreads
    // the rest over records 1..2
    val zarray = """{"zarr_format": 2, "shape": [10], "chunks": [2], "dtype": "|u1", """ +
      """"compressor": null, "filters": null, "order": "C"}"""
    val src = entryDf(Seq(
      (".zgroup", "", ".zgroup", "meta", null, None, None, """{"zarr_format": 2}"""),
      ("v/.zarray", "v", ".zarray", "meta", null, None, None, zarray),
      ("v/0", "v", "0", "ref", s"file://$data", Some(4L), Some(2L), null),
      ("v/2", "v", "2", "inline", null, None, None, "base64:" +
        java.util.Base64.getEncoder.encodeToString(Array[Byte](7, 9))),
      ("v/3", "v", "3", "inline", null, None, None, "AB"),
      ("v/4", "v", "4", "ref", s"file://$data", None, None, null)))
    val store = dir.resolve("store").toString
    graft.sources.KerchunkIndex.writeParquetRefs(src, store, recordSize = 2)
    // record 0 must hold TWO rows (present chunk 0, null row for missing
    // chunk 1) so later chunks keep their positions
    val rec0 = spark.read.parquet(s"$store/v/refs.0.parq").collect()
    assert(rec0.length == 2 && rec0(1).isNullAt(0) && rec0(1).isNullAt(3), rec0.mkString(","))
    val got = graft.sources.KerchunkIndex.open(spark, store)
      .filter(org.apache.spark.sql.functions.col("kind") =!= "meta")
      .select("key", "kind", "url", "offset", "length", "inline_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getString(5))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq("v/0", "v/2", "v/3", "v/4"), got.mkString(","))
    assert(got(0) == ("v/0", "ref", s"file://$data", 4L, 2L, null))
    assert(got(1)._2 == "inline" && got(1)._6 == "base64:" +
      java.util.Base64.getEncoder.encodeToString(Array[Byte](7, 9)))
    // plain-text inline bytes come back base64'd but DECODE to the same bytes
    assert(got(2)._2 == "inline" &&
      java.util.Base64.getDecoder.decode(got(2)._6.stripPrefix("base64:")).toSeq
        == "AB".getBytes("UTF-8").toSeq)
    assert(got(3) == ("v/4", "ref", s"file://$data", -1L, -1L, null)) // whole-file
  }

  test("writer refusals: duplicate position, no geometry, half-specified range") {
    val zarray = """{"zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "|u1", """ +
      """"compressor": null, "filters": null, "order": "C"}"""
    def write(rows: Seq[(String, String, String, String, String, Option[Long], Option[Long], String)]): Unit =
      graft.sources.KerchunkIndex.writeParquetRefs(entryDf(rows),
        java.nio.file.Files.createTempDirectory("kerchunk_wrf").toString, recordSize = 10)
    val dup = intercept[Exception] { write(Seq(
      ("v/.zarray", "v", ".zarray", "meta", null, None, None, zarray),
      ("v/0", "v", "0", "ref", "file:///x", Some(0L), Some(2L), null),
      ("v/0", "v", "0", "ref", "file:///x", Some(2L), Some(2L), null)))
    }
    assert((dup.getMessage + Option(dup.getCause).map(_.getMessage).mkString)
      .contains("duplicate"), dup.getMessage)
    val noGeo = intercept[Exception] { write(Seq(
      (".zgroup", "", ".zgroup", "meta", null, None, None, """{"zarr_format": 2}"""),
      ("v/0", "v", "0", "ref", "file:///x", Some(0L), Some(2L), null)))
    }
    assert((noGeo.getMessage + Option(noGeo.getCause).map(_.getMessage).mkString)
      .contains(".zarray"), noGeo.getMessage)
    val half = intercept[Exception] { write(Seq(
      ("v/.zarray", "v", ".zarray", "meta", null, None, None, zarray),
      ("v/0", "v", "0", "ref", "file:///x", Some(4L), None, null)))
    }
    assert((half.getMessage + Option(half.getCause).map(_.getMessage).mkString)
      .contains("needs both"), half.getMessage)
  }

  test("parquet store: a ref row past the chunk grid refuses (corrupt index)") {
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_over")
    java.nio.file.Files.writeString(dir.resolve(".zmetadata"),
      """{"metadata": {"v/.zarray": {"shape": [2], "chunks": [2], "dtype": "<i4",
        |  "compressor": null, "filters": null, "order": "C", "zarr_format": 2}},
        | "record_size": 10}""".stripMargin)
    import spark.implicits._
    // 2 non-null rows for a 1-chunk grid: row 1 is out of range
    val tmp = dir.resolve("build")
    Seq(("file:///x", 0L, 8L, null: Array[Byte]), ("file:///x", 8L, 8L, null: Array[Byte]))
      .toDF("path", "offset", "size", "raw").coalesce(1).write.parquet(tmp.toString)
    java.nio.file.Files.createDirectories(dir.resolve("v"))
    val part = java.nio.file.Files.list(tmp).iterator()
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.startsWith("part-"))
        java.nio.file.Files.move(p, dir.resolve("v/refs.0.parq"))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    val e = intercept[Exception] {
      KerchunkIndex.readParquetRefs(spark, dir.toString).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("exceeds") || msg.contains("chunk grid"))
  }
}
