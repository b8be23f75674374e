package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** zarr v3 `sharding_indexed` — the plane must expand each shard file's
  * index into per-inner-chunk byte-range refs and decode through the shared
  * machinery. The main fixture (crc32c end-index, gzip inner chunks, edge
  * padding, a deliberately-missing inner chunk) is oracle-gated via
  * `load_zarr_sharded`; this spec covers the OTHER layout axes: index at
  * the start, crc-less index codecs, raw inner chunks, and corruption
  * refusing loudly. */
class ZarrShardingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def decode(store: String) = {
    val entries = graft.sources.ZarrDirectoryIndex.read(spark, store)
    graft.sources.KerchunkIndex.decodeCoords(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries),
      graft.sources.KerchunkIndex.attrDims(entries))
  }

  private def tmpStore(): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_spec")
    java.nio.file.Files.writeString(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    dir
  }

  private def rmTree(dir: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })

  /** 1-D array shape [4], one shard [4] of two raw-float64 [2] inner
    * chunks, index WITHOUT crc32c placed at the START of the file. */
  private def writeStartIndexStore(dir: java.nio.file.Path,
                                   corruptIndex: Boolean = false): Unit = {
    java.nio.file.Files.createDirectories(dir.resolve("v/c"))
    java.nio.file.Files.writeString(dir.resolve("v/zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [2],
        |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |   "index_location": "start"}}],
        | "dimension_names": ["i"]}""".stripMargin)
    val LE = java.nio.ByteOrder.LITTLE_ENDIAN
    val index = java.nio.ByteBuffer.allocate(2 * 16).order(LE)
    index.putLong(32L).putLong(16L) // inner 0 right after the 32-byte index
    index.putLong(if (corruptIndex) 1L << 40 else 48L).putLong(16L)
    val chunks = java.nio.ByteBuffer.allocate(32).order(LE)
    (0 until 4).foreach(i => chunks.putDouble(i * 1.5))
    val os = new java.io.ByteArrayOutputStream()
    os.write(index.array()); os.write(chunks.array())
    java.nio.file.Files.write(dir.resolve("v/c/0"), os.toByteArray)
  }

  test("start-located crc-less index decodes; refs are byte ranges into the shard") {
    val dir = tmpStore()
    try {
      writeStartIndexStore(dir)
      val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
      val refs = entries.filter(col("kind") === "ref").collect()
      assert(refs.length == 2, refs.mkString(";"))
      assert(refs.forall(r => !r.isNullAt(r.fieldIndex("offset"))
        && !r.isNullAt(r.fieldIndex("length"))), "inner refs must carry byte ranges")
      assert(refs.map(_.getAs[String]("member")).sorted.toSeq == Seq("0", "1"))
      val rows = decode(dir.toString).orderBy("coords").collect()
      assert(rows.map(_.getAs[Double]("value")).toSeq == Seq(0.0, 1.5, 3.0, 4.5))
      assert(rows.head.getAs[scala.collection.Seq[String]]("dims") == Seq("i"))
    } finally rmTree(dir)
  }

  test("an index slot pointing outside the shard file refuses loudly") {
    val dir = tmpStore()
    try {
      writeStartIndexStore(dir, corruptIndex = true)
      val e = intercept[Exception](
        graft.sources.ZarrDirectoryIndex.read(spark, dir.toString).collect())
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("outside its shard"), msg)
    } finally rmTree(dir)
  }

  test("a corrupted crc32c index checksum refuses loudly") {
    val store = gates.CatalogScanGates.ensureZarrV3ShardedFixture()
    val dir = tmpStore()
    try {
      // copy the oracle fixture, then flip one byte of one shard's crc tail
      val src = java.nio.file.Paths.get(store)
      java.nio.file.Files.walk(src).forEach { p =>
        val rel = src.relativize(p).toString
        if (rel.nonEmpty) {
          val dst = dir.resolve(rel)
          if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
          else java.nio.file.Files.copy(p, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
      val shard = dir.resolve("temp/c/0/0")
      val bytes = java.nio.file.Files.readAllBytes(shard)
      bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x5A).toByte
      java.nio.file.Files.write(shard, bytes)
      val e = intercept[Exception](
        graft.sources.ZarrDirectoryIndex.read(spark, dir.toString).collect())
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("crc32c"), msg)
    } finally rmTree(dir)
  }

  test("nested sharding: two index levels resolve to absolute byte ranges") {
    // [8] → one file of two [4]-shards, each of two [2]-chunks. Outer index
    // crc-less at the END; inner indexes crc-less at the START (both
    // locations exercised across levels). Inner offsets are relative to
    // their enclosing shard's byte string. One inner chunk missing.
    val dir = tmpStore()
    try {
      java.nio.file.Files.createDirectories(dir.resolve("v/c"))
      java.nio.file.Files.writeString(dir.resolve("v/zarr.json"),
        """{"zarr_format": 3, "node_type": "array", "shape": [8],
          | "data_type": "float64",
          | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
          | "codecs": [{"name": "sharding_indexed", "configuration": {
          |   "chunk_shape": [4],
          |   "codecs": [{"name": "sharding_indexed", "configuration": {
          |     "chunk_shape": [2],
          |     "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
          |     "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
          |     "index_location": "start"}}],
          |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
          |   "index_location": "end"}}],
          | "dimension_names": ["i"]}""".stripMargin)
      val LE = java.nio.ByteOrder.LITTLE_ENDIAN
      def f64(vals: Double*) = {
        val b = java.nio.ByteBuffer.allocate(8 * vals.length).order(LE)
        vals.foreach(b.putDouble); b.array()
      }
      // inner shard A (64 B): start index → (32,16),(48,16); chunks 0,1 / 2,3
      val a = java.nio.ByteBuffer.allocate(64).order(LE)
      a.putLong(32L).putLong(16L).putLong(48L).putLong(16L)
      a.put(f64(0, 1)).put(f64(2, 3))
      // inner shard B (48 B): slot 0 missing; slot 1 → (32,16); chunk 6,7
      val b = java.nio.ByteBuffer.allocate(48).order(LE)
      b.putLong(-1L).putLong(-1L).putLong(32L).putLong(16L)
      b.put(f64(6, 7))
      // outer end index: slot 0 → [0,64), slot 1 → [64,+48)
      val outer = java.nio.ByteBuffer.allocate(32).order(LE)
      outer.putLong(0L).putLong(64L).putLong(64L).putLong(48L)
      val os = new java.io.ByteArrayOutputStream()
      os.write(a.array()); os.write(b.array()); os.write(outer.array())
      java.nio.file.Files.write(dir.resolve("v/c/0"), os.toByteArray)

      val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
      val refs = entries.filter(col("kind") === "ref").collect()
        .map(r => r.getAs[String]("member") ->
          ((r.getAs[Long]("offset"), r.getAs[Long]("length")))).toMap
      // absolute ranges: A's chunks at 32/48; B's surviving chunk at 64+32
      assert(refs == Map("0" -> ((32L, 16L)), "1" -> ((48L, 16L)), "3" -> ((96L, 16L))), refs)
      val rows = decode(dir.toString).collect()
        .map(r => r.getAs[scala.collection.Seq[Long]]("coords").head -> r.getAs[Double]("value"))
        .toMap
      assert(rows == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 6L -> 6.0, 7L -> 7.0), rows)
    } finally rmTree(dir)
  }

  test("a non-reversal transpose permutation rides the synthesized .zarray as _graft_perm") {
    // r7: these no longer refuse — the permutation is carried to the
    // decode plane's permuted-stride branch (value-level coverage lives
    // in ReferenceFidelitySpec's 3-D multi-chunk transpose test)
    val dir = tmpStore()
    try {
      java.nio.file.Files.createDirectories(dir.resolve("v"))
      java.nio.file.Files.writeString(dir.resolve("v/zarr.json"),
        """{"zarr_format": 3, "node_type": "array", "shape": [2, 3, 4],
          | "data_type": "float64",
          | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3, 4]}},
          | "codecs": [{"name": "transpose", "configuration": {"order": [1, 0, 2]}},
          |            {"name": "bytes", "configuration": {"endian": "little"}}]}"""
        .stripMargin)
      val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
      val zarray = entries
        .filter(org.apache.spark.sql.functions.col("member") === ".zarray")
        .head().getAs[String]("inline_value")
      assert(zarray.contains(""""_graft_perm": [1, 0, 2]"""), zarray)
      assert(zarray.contains(""""order": "C""""), zarray)
    } finally rmTree(dir)
  }

  test("an unknown declared order asserts at coords decode, never mis-addresses") {
    val dir = tmpStore()
    try {
      java.nio.file.Files.createDirectories(dir.resolve("w"))
      // a v2-side .zarray with a bogus order reaches the plane unparsed —
      // the coords decode must refuse, not silently use C strides
      java.nio.file.Files.writeString(dir.resolve("w/.zarray"),
        """{"zarr_format": 2, "dtype": "<f8", "shape": [2], "chunks": [2],
          | "compressor": null, "filters": null, "order": "K"}""".stripMargin)
      java.nio.file.Files.delete(dir.resolve("zarr.json")) // force the v2 walk
      val bb = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putDouble(1.0); bb.putDouble(2.0)
      java.nio.file.Files.write(dir.resolve("w/0"), bb.array())
      val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
      val e = intercept[Exception](
        graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries),
          graft.sources.KerchunkIndex.attrDims(entries)).collect())
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("order"), msg)
    } finally rmTree(dir)
  }

  test("inner shape that does not divide the shard refuses loudly") {
    val dir = tmpStore()
    try {
      java.nio.file.Files.createDirectories(dir.resolve("v"))
      java.nio.file.Files.writeString(dir.resolve("v/zarr.json"),
        """{"zarr_format": 3, "node_type": "array", "shape": [4],
          | "data_type": "float64",
          | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
          | "codecs": [{"name": "sharding_indexed", "configuration": {
          |   "chunk_shape": [3],
          |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}}]}"""
          .stripMargin)
      val e = intercept[Exception](
        graft.sources.ZarrDirectoryIndex.read(spark, dir.toString).collect())
      val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
      assert(msg.contains("evenly divide"), msg)
    } finally rmTree(dir)
  }
}
