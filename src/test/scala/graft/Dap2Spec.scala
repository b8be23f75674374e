package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.Dap2Fixture
import graft.sources.{Dap2Index, KerchunkIndex}

/** DAP2 (OPeNDAP) client: wire-format golden bytes (pinning BOTH the
  * fixture's encoder and the client's decoder to RFC 4506 / DAP 2.0, so a
  * matched bug pair cannot cancel), DDS/DAS grammar, and the end-to-end
  * loopback read against parquet-derived truth. */
class Dap2Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // ------------------------------------------------------- golden bytes

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("XDR golden bytes: Int32 array [1,2,3] (RFC 4506 §4.19)") {
    // count twice, then 4-byte big-endian values — written by hand from the
    // spec, asserted against BOTH sides independently
    val golden = "00000003" + "00000003" + "00000001" + "00000002" + "00000003"
    val enc = Dap2Fixture.xdrArray("Int32", Array(1.0, 2.0, 3.0))
    assert(hex(enc) === golden)
    val dods = ("Dataset {\n    Int32 v[x = 3];\n} d;\nData:\n").getBytes("US-ASCII") ++ enc
    assert(hex(Dap2Index.stripDods(dods, "test://")) === "000000010000000200000003")
  }

  test("XDR golden bytes: Int16 promotes to 4-byte words; negatives sign-extend") {
    val golden = "00000002" + "00000002" + "00000005" + "ffffffff" // [5, -1]
    val enc = Dap2Fixture.xdrArray("Int16", Array(5.0, -1.0))
    assert(hex(enc) === golden)
  }

  test("XDR golden bytes: Byte packs and pads to 4; client strips the pad") {
    val golden = "00000005" + "00000005" + "0102030405" + "000000" // 5 bytes + 3 pad
    val enc = Dap2Fixture.xdrArray("Byte", Array(1, 2, 3, 4, 5).map(_.toDouble))
    assert(hex(enc) === golden)
    val dods = ("Dataset {\n    Byte v[x = 5];\n} d;\nData:\n").getBytes("US-ASCII") ++ enc
    assert(hex(Dap2Index.stripDods(dods, "test://")) === "0102030405")
  }

  test("XDR golden bytes: Float64 big-endian IEEE (3.5 = 400c000000000000)") {
    val golden = "00000001" + "00000001" + "400c000000000000"
    assert(hex(Dap2Fixture.xdrArray("Float64", Array(3.5))) === golden)
  }

  test("stripDods walks a multi-variable response (Grid answer) to the requested var") {
    // a real server answering a Grid constraint returns array + maps; the
    // requested var may sit AFTER other spans — incl. a padded Byte span
    val dds = "Dataset {\n    Byte flags[x = 5];\n    Float64 t[t = 2];\n    Int32 v[x = 3];\n} g;\nData:\n"
    val body = dds.getBytes("US-ASCII") ++
      Dap2Fixture.xdrArray("Byte", Array(9, 8, 7, 6, 5).map(_.toDouble)) ++
      Dap2Fixture.xdrArray("Float64", Array(1.5, 2.5)) ++
      Dap2Fixture.xdrArray("Int32", Array(1.0, 2.0, 3.0))
    assert(hex(Dap2Index.stripDods(body, "test://", Some("v"))) === "000000010000000200000003")
    assert(hex(Dap2Index.stripDods(body, "test://", Some("flags"))) === "0908070605")
    val e = intercept[java.io.IOException] {
      Dap2Index.stripDods(body, "test://", Some("nope"))
    }
    assert(e.getMessage.contains("does not contain"))
  }

  test("DAS: comma-separated numeric lists degrade to raw text, not a refusal") {
    val das = Dap2Index.parseDas(
      """Attributes {
        |    sst {
        |        Float64 valid_range 0.0, 360.0;
        |        Int32 code 7;
        |    }
        |}""".stripMargin)
    assert(das("sst")("valid_range") === "0.0, 360.0")
    assert(das("sst")("code") === 7L)
  }

  test("stripDods refuses count mismatch and truncation loudly") {
    val enc = Dap2Fixture.xdrArray("Int32", Array(1.0, 2.0, 3.0))
    val lyingDds = ("Dataset {\n    Int32 v[x = 4];\n} d;\nData:\n").getBytes("US-ASCII")
    val e = intercept[IllegalArgumentException] {
      Dap2Index.stripDods(lyingDds ++ enc, "test://")
    }
    assert(e.getMessage.contains("count mismatch"))
    val truncated = ("Dataset {\n    Int32 v[x = 3];\n} d;\nData:\n").getBytes("US-ASCII") ++
      enc.take(12)
    assert(intercept[IllegalArgumentException] {
      Dap2Index.stripDods(truncated, "test://")
    }.getMessage.contains("truncated"))
  }

  // --------------------------------------------------------- DDS / DAS

  test("DDS: atomic arrays, scalars, multi-dim, dataset name") {
    val dds = Dap2Index.parseDds(
      """Dataset {
        |    Float64 lat[lat = 5];
        |    Int32 scalar_code;
        |    Float32 sst[time = 10][lat = 5];
        |} sample;""".stripMargin)
    assert(dds.datasetName === "sample")
    assert(dds.vars.map(_.name) === Seq("lat", "scalar_code", "sst"))
    assert(dds.vars(1).dims === Seq("scalar_code" -> 1L)) // scalar → shape [1]
    assert(dds.vars(2).dims === Seq("time" -> 10L, "lat" -> 5L))
  }

  test("DDS: Grid flattens to its array + maps (pydap/xarray surface form)") {
    val dds = Dap2Index.parseDds(
      """Dataset {
        |    Grid {
        |     ARRAY:
        |        Int16 sst[time = 4][lat = 3];
        |     MAPS:
        |        Float64 time[time = 4];
        |        Float64 lat[lat = 3];
        |    } sst;
        |} g;""".stripMargin)
    assert(dds.vars.map(_.name) === Seq("sst", "time", "lat"))
    assert(dds.vars.head.dapType === "Int16")
    assert(dds.vars.head.dims === Seq("time" -> 4L, "lat" -> 3L))
    // the maps ASSOCIATION survives the flatten (pydap GridType.maps; it
    // surfaces downstream as the CF `coordinates` attribute)
    assert(dds.vars.head.maps === Seq("time", "lat"))
    assert(dds.vars(1).maps.isEmpty && dds.vars(2).maps.isEmpty)
  }

  test("DDS: Structures flatten to dotted names (r12); String arrays parse") {
    // pydap semantics (source.py:85-90): Structure members become dotted
    // variables; nesting compounds; a Grid inside keeps the flat-Grid
    // convention (dotted array name, maps under their own names)
    val dds = Dap2Index.parseDds(
      """Dataset {
        |  Structure {
        |    Int32 a[x = 3];
        |    Structure { Float64 b[y = 2]; } inner;
        |    Grid {
        |     ARRAY:
        |        Float64 g[x = 3][y = 2];
        |     MAPS:
        |        Float64 x[x = 3];
        |        Float64 y[y = 2];
        |    } g;
        |  } s;
        |} d;""".stripMargin)
    assert(dds.vars.map(_.name) === Seq("s.a", "s.inner.b", "s.g", "x", "y"))
    assert(dds.vars.find(_.name == "s.g").get.maps === Seq("x", "y"))
    // arrays OF structures refuse
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseDds("Dataset {\n Structure { Int32 a[x = 2]; } s[k = 4];\n} d;")
    }.getMessage.contains("array-of-Structures"))
    val flat = Dap2Index.parseDds("Dataset {\n String names[x = 3];\n} d;")
    assert(flat.vars === Seq(Dap2Index.DapVar("names", "String", Seq("x" -> 3L))))
  }

  test("DDS: Sequences parse to member trees — nesting recurses (r15); containers/arrays refuse (r13)") {
    val dds = Dap2Index.parseDds(
      """Dataset {
        |  Float64 bg[x = 2];
        |  Sequence {
        |    Int32 depth;
        |    Float64 temp;
        |    String station;
        |  } cast;
        |} d;""".stripMargin)
    assert(dds.vars.map(_.name) === Seq("bg")) // arrays unaffected
    assert(dds.seqs === Seq(Dap2Index.DapSeq("cast",
      Seq("depth" -> "Int32", "temp" -> "Float64", "station" -> "String"))))
    // nested Sequence members parse at any member position and recurse
    // to ANY depth (r14 one level, r15 full recursion); a
    // Structure-wrapped Sequence parses under its dotted name (r15);
    // array members, array-of-Sequences, and other container members
    // refuse loudly
    val nest = Dap2Index.parseDds(
      "Dataset {\n Sequence { Int32 a; Sequence { Int32 b; } in;\n } s;\n} d;")
    assert(nest.seqs === Seq(Dap2Index.DapSeq("s",
      Seq("a" -> "Int32", "in" -> "Sequence"),
      Map("in" -> Dap2Index.SeqBody(Seq("b" -> "Int32"))))))
    val deep = Dap2Index.parseDds("Dataset {\n Sequence { Int32 a; Sequence { " +
      "Sequence { Int32 c; } in2; Float64 f; } in;\n } s;\n} d;")
    assert(deep.seqs === Seq(Dap2Index.DapSeq("s",
      Seq("a" -> "Int32", "in" -> "Sequence"),
      Map("in" -> Dap2Index.SeqBody(
        Seq("in2" -> "Sequence", "f" -> "Float64"),
        Map("in2" -> Dap2Index.SeqBody(Seq("c" -> "Int32"))))))))
    // a Sequence inside a Structure parses under its DOTTED name (r15 —
    // the pydap surface; it refused through r14)
    val inStruct = Dap2Index.parseDds(
      "Dataset {\n Structure { Sequence { Int32 a; } q; } s;\n} d;")
    assert(inStruct.seqs === Seq(Dap2Index.DapSeq("s.q", Seq("a" -> "Int32"))))
    // an ARRAY member parses with its declared dims (r16 — refused
    // through r15); an unnamed dim takes the member name (the parseDecl
    // convention); multi-dim members keep declaration order
    assert(Dap2Index.parseDds("Dataset {\n Sequence { Int32 a[x = 3]; } s;\n} d;")
      .seqs === Seq(Dap2Index.DapSeq("s", Seq("a" -> "Int32"),
        arrays = Map("a" -> Seq("x" -> 3L)))))
    assert(Dap2Index.parseDds("Dataset {\n Sequence { Float64 m[2][y = 4]; } s;\n} d;")
      .seqs === Seq(Dap2Index.DapSeq("s", Seq("m" -> "Float64"),
        arrays = Map("m" -> Seq("m" -> 2L, "y" -> 4L)))))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseDds("Dataset {\n Sequence { Int32 a; } s[k = 2];\n} d;")
    }.getMessage.contains("array-of-Sequences"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseDds("Dataset {\n Sequence { Grid { ARRAY: Int32 a[x=1]; MAPS: Int32 x[x=1]; } g; } s;\n} d;")
    }.getMessage.contains("container member"))
  }

  test("Sequence golden bytes: 0x5A/0xA5 record walk, every member type span (r13)") {
    // hand-built two-record stream, independent of BOTH the fixture
    // encoder and the client walk
    val dds = "Dataset {\n Sequence { Int32 a; String s; } q;\n} d;"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(dds.getBytes("US-ASCII")); bos.write("\nData:\n".getBytes("US-ASCII"))
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    u32(0x5A000000L); u32(0xfffffffdL) // a = -3 (sign-extends)
    u32(2L); bos.write('h'); bos.write('i'); bos.write(0); bos.write(0) // "hi" + pad
    u32(0x5A000000L); u32(7L)
    u32(4L); bos.write("wxyz".getBytes("US-ASCII")) // no pad at len 4
    u32(0xA5000000L)
    val members = Seq("a" -> "Int32", "s" -> "String")
    val rows = Dap2Index.parseSeqRecords(bos.toByteArray, "u", "q", members)
    assert(rows === Seq(
      ("a", Seq(0L), Some(-3.0), None), ("s", Seq(0L), None, Some("hi")),
      ("a", Seq(1L), Some(7.0), None), ("s", Seq(1L), None, Some("wxyz"))))
    // framing refusals: bad marker, trailing bytes, truncated member
    val good = bos.toByteArray
    val badMarker = good.clone(); badMarker(dds.length + 7) = 0x11
    assert(intercept[java.io.IOException] {
      Dap2Index.parseSeqRecords(badMarker, "u", "q", members)
    }.getMessage.contains("marker"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(good :+ 0.toByte, "u", "q", members)
    }.getMessage.contains("trailing"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(good.dropRight(6), "u", "q", members)
    }.getMessage.contains("truncated"))
  }

  test("nested Sequence golden bytes: recursive record walk, mid-position nesting (r14)") {
    // hand-built stream, independent of the fixture encoder: the nested
    // member sits BETWEEN two outer scalars, record 1's inner stream is
    // EMPTY (just its terminator) — both pin the recursive framing
    val dds = "Dataset {\n Sequence { Int32 a; Sequence { Int32 b; } in; " +
      "Float64 c; } q;\n} d;"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(dds.getBytes("US-ASCII")); bos.write("\nData:\n".getBytes("US-ASCII"))
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    def f64(d: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(d)
      u32((bits >>> 32) & 0xffffffffL); u32(bits & 0xffffffffL)
    }
    u32(0x5A000000L); u32(5L) // outer record 0: a = 5
    u32(0x5A000000L); u32(1L) // inner record 0.0: b = 1
    u32(0x5A000000L); u32(2L) // inner record 0.1: b = 2
    u32(0xA5000000L)          // inner terminator
    f64(0.5)                  // c = 0.5
    u32(0x5A000000L); u32(6L) // outer record 1: a = 6
    u32(0xA5000000L)          // EMPTY inner stream
    f64(1.5)                  // c = 1.5
    u32(0xA5000000L)          // outer terminator
    val members = Seq("a" -> "Int32", "in" -> "Sequence", "c" -> "Float64")
    val nested = Map("in" -> Dap2Index.SeqBody(Seq("b" -> "Int32")))
    val rows = Dap2Index.parseSeqRecords(bos.toByteArray, "u", "q", members, nested)
    assert(rows === Seq(
      ("a", Seq(0L), Some(5.0), None),
      ("in.b", Seq(0L, 0L), Some(1.0), None),
      ("in.b", Seq(0L, 1L), Some(2.0), None),
      ("c", Seq(0L), Some(0.5), None),
      ("a", Seq(1L), Some(6.0), None),
      ("c", Seq(1L), Some(1.5), None)))
    // a bad inner marker refuses with the inner coordinate named
    val good = bos.toByteArray
    val innerMarkerAt = dds.length + "\nData:\n".length + 8
    val bad = good.clone(); bad(innerMarkerAt) = 0x11
    assert(intercept[java.io.IOException] {
      Dap2Index.parseSeqRecords(bad, "u", "q", members, nested)
    }.getMessage.contains("inner marker"))
    // truncation inside an inner record refuses loudly
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(good.dropRight(18), "u", "q", members, nested)
    }.getMessage.contains("truncated"))
  }

  test("array-member Sequence golden bytes: doubled/count-once spans, packing, unravel (r16)") {
    // hand-built stream, independent of the fixture encoder: every array
    // wire form in one record walk — numeric doubled count (Float64),
    // Byte packed + padded, String count-once, and an array INSIDE a
    // nested sequence; record 1's inner stream is empty
    val dds = "Dataset {\n Sequence { Int32 a; Float64 v[z = 2]; " +
      "Byte p[n = 5]; String t[g = 2]; Sequence { Float32 w[k = 2]; } in; } q;\n} d;"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(dds.getBytes("US-ASCII")); bos.write("\nData:\n".getBytes("US-ASCII"))
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    def f64(d: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(d)
      u32((bits >>> 32) & 0xffffffffL); u32(bits & 0xffffffffL)
    }
    def f32(f: Float): Unit = u32(java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL)
    def rec(a: Long, v: Seq[Double], p: Seq[Int], t: Seq[String],
            w: Seq[Seq[Float]]): Unit = {
      u32(0x5A000000L); u32(a)
      u32(2L); u32(2L); v.foreach(f64)             // doubled count, then elements
      u32(5L); u32(5L); p.foreach(bos.write)       // packed bytes...
      bos.write(0); bos.write(0); bos.write(0)     // ...padded 5 → 8
      u32(2L)                                      // String array: count ONCE
      t.foreach { s =>
        u32(s.length.toLong); bos.write(s.getBytes("US-ASCII"))
        (0 until (4 - s.length % 4) % 4).foreach(_ => bos.write(0))
      }
      w.foreach { ws => u32(0x5A000000L); u32(2L); u32(2L); ws.foreach(f32) }
      u32(0xA5000000L)                             // inner terminator
    }
    rec(1L, Seq(0.5, 1.5), Seq(7, 8, 9, 10, 11), Seq("hi", "wxyz"),
      Seq(Seq(0.25f, 1.25f)))
    rec(2L, Seq(2.5, 3.5), Seq(1, 2, 3, 4, 5), Seq("a", "bc"), Nil)
    u32(0xA5000000L) // outer terminator
    val members = Seq("a" -> "Int32", "v" -> "Float64", "p" -> "Byte",
      "t" -> "String", "in" -> "Sequence")
    val nested = Map("in" -> Dap2Index.SeqBody(Seq("w" -> "Float32"),
      arrays = Map("w" -> Seq("k" -> 2L))))
    val arrays = Map("v" -> Seq("z" -> 2L), "p" -> Seq("n" -> 5L),
      "t" -> Seq("g" -> 2L))
    val rows = Dap2Index.parseSeqRecords(bos.toByteArray, "u", "q",
      members, nested, arrays)
    assert(rows === Seq(
      ("a", Seq(0L), Some(1.0), None),
      ("v", Seq(0L, 0L), Some(0.5), None), ("v", Seq(0L, 1L), Some(1.5), None),
      ("p", Seq(0L, 0L), Some(7.0), None), ("p", Seq(0L, 1L), Some(8.0), None),
      ("p", Seq(0L, 2L), Some(9.0), None), ("p", Seq(0L, 3L), Some(10.0), None),
      ("p", Seq(0L, 4L), Some(11.0), None),
      ("t", Seq(0L, 0L), None, Some("hi")), ("t", Seq(0L, 1L), None, Some("wxyz")),
      ("in.w", Seq(0L, 0L, 0L), Some(0.25), None),
      ("in.w", Seq(0L, 0L, 1L), Some(1.25), None),
      ("a", Seq(1L), Some(2.0), None),
      ("v", Seq(1L, 0L), Some(2.5), None), ("v", Seq(1L, 1L), Some(3.5), None),
      ("p", Seq(1L, 0L), Some(1.0), None), ("p", Seq(1L, 1L), Some(2.0), None),
      ("p", Seq(1L, 2L), Some(3.0), None), ("p", Seq(1L, 3L), Some(4.0), None),
      ("p", Seq(1L, 4L), Some(5.0), None),
      ("t", Seq(1L, 0L), None, Some("a")), ("t", Seq(1L, 1L), None, Some("bc"))))
    // a count word disagreeing with the declared geometry refuses before
    // anything mis-addresses (the first 'v' count is at marker + a = +8)
    val good = bos.toByteArray
    val base = dds.length + "\nData:\n".length
    val bad = good.clone(); bad(base + 11) = 3
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(bad, "u", "q", members, nested, arrays)
    }.getMessage.contains("counts"))
    // truncation inside a packed-byte span refuses loudly
    assert(intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(good.dropRight(30), "u", "q", members, nested, arrays)
    }.getMessage.contains("truncated"))
    // multi-dim member: row-major unravel under (record, r, c) coords
    val dds2 = "Dataset {\n Sequence { Int32 m[r = 2][c = 2]; } q;\n} d;"
    val bos2 = new java.io.ByteArrayOutputStream()
    bos2.write(dds2.getBytes("US-ASCII")); bos2.write("\nData:\n".getBytes("US-ASCII"))
    def v32(v: Long): Unit = {
      bos2.write(((v >> 24) & 0xff).toInt); bos2.write(((v >> 16) & 0xff).toInt)
      bos2.write(((v >> 8) & 0xff).toInt); bos2.write((v & 0xff).toInt)
    }
    v32(0x5A000000L); v32(4L); v32(4L); Seq(10L, 11L, 12L, 13L).foreach(v32)
    v32(0xA5000000L)
    val rows2 = Dap2Index.parseSeqRecords(bos2.toByteArray, "u", "q",
      Seq("m" -> "Int32"), Map.empty, Map("m" -> Seq("r" -> 2L, "c" -> 2L)))
    assert(rows2 === Seq(
      ("m", Seq(0L, 0L, 0L), Some(10.0), None), ("m", Seq(0L, 0L, 1L), Some(11.0), None),
      ("m", Seq(0L, 1L, 0L), Some(12.0), None), ("m", Seq(0L, 1L, 1L), Some(13.0), None)))
  }

  test("deep-nested Sequence golden bytes: recursive walk three levels down (r15)") {
    // hand-built depth-3 stream, independent of the fixture encoder:
    // Sequence { Int32 a; Sequence { Int32 b; Sequence { String t; } s3;
    // } s2; } q — record 0 carries one s2 record whose s3 stream holds
    // two strings; record 1 carries one s2 record with an EMPTY s3
    // stream; the whole thing pins three-slot coords and per-level
    // terminators
    val dds = "Dataset {\n Sequence { Int32 a; Sequence { Int32 b; " +
      "Sequence { String t; } s3; } s2; } q;\n} d;"
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(dds.getBytes("US-ASCII")); bos.write("\nData:\n".getBytes("US-ASCII"))
    def u32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xff).toInt); bos.write(((v >> 16) & 0xff).toInt)
      bos.write(((v >> 8) & 0xff).toInt); bos.write((v & 0xff).toInt)
    }
    u32(0x5A000000L); u32(3L)  // outer record 0: a = 3
    u32(0x5A000000L); u32(10L) //   s2 record 0.0: b = 10
    u32(0x5A000000L)           //     s3 record 0.0.0
    u32(2L); bos.write('h'); bos.write('i'); bos.write(0); bos.write(0)
    u32(0x5A000000L)           //     s3 record 0.0.1
    u32(4L); bos.write("wxyz".getBytes("US-ASCII"))
    u32(0xA5000000L)           //     s3 terminator
    u32(0xA5000000L)           //   s2 terminator
    u32(0x5A000000L); u32(4L)  // outer record 1: a = 4
    u32(0x5A000000L); u32(20L) //   s2 record 1.0: b = 20
    u32(0xA5000000L)           //     s3 EMPTY (just its terminator)
    u32(0xA5000000L)           //   s2 terminator
    u32(0xA5000000L)           // outer terminator
    val members = Seq("a" -> "Int32", "s2" -> "Sequence")
    val nested = Map("s2" -> Dap2Index.SeqBody(
      Seq("b" -> "Int32", "s3" -> "Sequence"),
      Map("s3" -> Dap2Index.SeqBody(Seq("t" -> "String")))))
    val rows = Dap2Index.parseSeqRecords(bos.toByteArray, "u", "q", members, nested)
    assert(rows === Seq(
      ("a", Seq(0L), Some(3.0), None),
      ("s2.b", Seq(0L, 0L), Some(10.0), None),
      ("s2.s3.t", Seq(0L, 0L, 0L), None, Some("hi")),
      ("s2.s3.t", Seq(0L, 0L, 1L), None, Some("wxyz")),
      ("a", Seq(1L), Some(4.0), None),
      ("s2.b", Seq(1L, 0L), Some(20.0), None)))
    // truncation at the deepest level names the full record coordinate
    val good = bos.toByteArray
    val e = intercept[IllegalArgumentException] {
      Dap2Index.parseSeqRecords(good.dropRight(22), "u", "q", members, nested)
    }
    assert(e.getMessage.contains("truncated") || e.getMessage.contains("inner marker"),
      e.getMessage)
  }

  test("Sequence end-to-end: mixed dataset decodes both planes without cross-fetching (r13)") {
    val base = Dap2Fixture.ensureSeq(spark)
    val entries = Dap2Index.read(spark, base)
    val rows = Dap2Index.decodeSequences(entries)
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq,
        r.getSeq[Long](2).toSeq, Option(r.get(3)), Option(r.get(4)))).toSet
    val want = (0 until Dap2Fixture.seqN).flatMap { i =>
      Seq(
        ("cast.depth", Seq("cast"), Seq(i.toLong),
          Some(Dap2Fixture.seqDepth(i).toDouble), None),
        ("cast.temp", Seq("cast"), Seq(i.toLong), Some(Dap2Fixture.seqTemp(i)), None),
        ("cast.station", Seq("cast"), Seq(i.toLong), None, Some(Dap2Fixture.seqStation(i))))
    }.toSet
    assert(rows === want)
    // the ARRAY plane decodes the background array from the SAME entries
    // frame, and materializes exactly its one chunk — the seqref row must
    // never be admitted (it is a record stream, not a chunk; admitting it
    // would fetch the whole sequence per array decode and refuse outright
    // past maxChunkBytes)
    val mat = Dap2Index.materialize(entries)
    assert(mat.count() === 1L, mat.select("key").collect().mkString(","))
    val bg = graft.sources.KerchunkIndex.decodeCoords(mat,
        graft.sources.KerchunkIndex.arrayMeta(entries),
        graft.sources.KerchunkIndex.attrDims(entries))
      .select("variable", "coords", "value").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).head, r.getDouble(2))).toSet
    assert(bg === Dap2Fixture.seqBg.zipWithIndex
      .map { case (v, i) => ("bg", i.toLong, v.toDouble) }.toSet)
    // the shared chunk materializer must ALSO skip seqref rows (any
    // non-http store mixing planes): a seqref pointing at a real file
    // must not be fetched as a chunk
    import spark.implicits._
    val f = java.nio.file.Files.createTempFile("graft_seqref", ".bin")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    val synth = Seq(
      ("v/0", "v", "0", "inline", null: String,
        Option.empty[Long], Option.empty[Long], "AAAA"),
      ("q/seq", "q", "seq", "seqref", s"file://$f",
        Option.empty[Long], Option.empty[Long], null: String))
      .toDF("key", "variable", "member", "kind", "url", "offset", "length", "inline_value")
    val kKeys = graft.sources.KerchunkIndex.materializeChunks(synth)
      .select("key").collect().map(_.getString(0)).toSet
    assert(kKeys === Set("v/0"), kKeys.toString)
  }

  test("Sequence member projection pushes to the server; refusals (r13)") {
    val base = Dap2Fixture.ensureSeq(spark)
    val entries = Dap2Index.read(spark, base)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getSeq[Long](2).head, Option(r.get(3)), Option(r.get(4)))).toSet
    val full = rows(Dap2Index.decodeSequences(entries))
    // projection order in the CALL differs from declaration order — the
    // decoded rows must still match (the server answers declaration-first)
    val proj = rows(Dap2Index.decodeSequences(entries,
      project = Map("cast" -> Seq("station", "depth"))))
    assert(proj == full.filter(r => r._1 != "cast.temp"), proj.toString)
    assert(proj.size == 2 * Dap2Fixture.seqN)
    // unknown member / unknown sequence / empty projection refuse loudly
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, project = Map("cast" -> Seq("nope")))
    }.getMessage.contains("unknown member"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, project = Map("ghost" -> Seq("depth")))
    }.getMessage.contains("not a Sequence"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, project = Map("cast" -> Nil))
    }.getMessage.contains("empty"))
  }

  test("Sequence selection pushes to the server; the unfiltered fetch never runs (r14)") {
    val base = Dap2Fixture.ensureSeq(spark)
    val entries = Dap2Index.read(spark, base)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getSeq[Long](2).head, Option(r.get(3)), Option(r.get(4)))).toSet
    import scala.jdk.CollectionConverters._
    Dap2Fixture.seqRequests.clear()
    // two numeric predicates, both effective: depth>10 keeps i>=2,
    // temp<11 keeps i<=4 — the server filters BEFORE numbering, so the
    // decoded coords are the post-filter indices 0..2
    val sel = rows(Dap2Index.decodeSequences(entries,
      select = Map("cast" -> Seq("depth>10", "temp<11"))))
    val keep = (0 until Dap2Fixture.seqN).filter(i =>
      Dap2Fixture.seqDepth(i) > 10 && Dap2Fixture.seqTemp(i) < 11)
    assert(keep == Seq(2, 3, 4))
    val want = keep.zipWithIndex.flatMap { case (i, r) => Seq(
      ("cast.depth", r.toLong, Some(Dap2Fixture.seqDepth(i).toDouble), None),
      ("cast.temp", r.toLong, Some(Dap2Fixture.seqTemp(i)), None),
      ("cast.station", r.toLong, None, Some(Dap2Fixture.seqStation(i)))) }.toSet
    assert(sel === want)
    // THE pushdown receipt: every .dods fetch of the sequence carried the
    // selection suffix — the unfiltered record stream was never requested
    val reqs1 = Dap2Fixture.seqRequests.asScala.toList
    assert(reqs1.nonEmpty)
    assert(reqs1.forall(_.endsWith("?cast&cast.depth>10&cast.temp<11")), reqs1.toString)

    // projection + a string-regex selection compose: one CE carries both,
    // and selection members need not be projected
    Dap2Fixture.seqRequests.clear()
    val both = rows(Dap2Index.decodeSequences(entries,
      project = Map("cast" -> Seq("depth", "station")),
      select = Map("cast" -> Seq("station=~\"x{3}.*\""))))
    val keep2 = (0 until Dap2Fixture.seqN).filter(i =>
      Dap2Fixture.seqStation(i).matches("x{3}.*"))
    assert(keep2 == Seq(2, 3))
    val want2 = keep2.zipWithIndex.flatMap { case (i, r) => Seq(
      ("cast.depth", r.toLong, Some(Dap2Fixture.seqDepth(i).toDouble), None),
      ("cast.station", r.toLong, None, Some(Dap2Fixture.seqStation(i)))) }.toSet
    assert(both === want2)
    val reqs2 = Dap2Fixture.seqRequests.asScala.toList
    assert(reqs2.nonEmpty)
    assert(reqs2.forall(
      _.endsWith("?cast.depth,cast.station&cast.station=~\"x{3}.*\"")), reqs2.toString)

    // a selection on a non-projected member still filters server-side
    Dap2Fixture.seqRequests.clear()
    val cross = rows(Dap2Index.decodeSequences(entries,
      project = Map("cast" -> Seq("station")),
      select = Map("cast" -> Seq("depth>10", "temp<11"))))
    assert(cross === keep.zipWithIndex.map { case (i, r) =>
      ("cast.station", r.toLong, None: Option[Any],
        Some(Dap2Fixture.seqStation(i)): Option[Any]) }.toSet)
    assert(Dap2Fixture.seqRequests.asScala.forall(
      _.endsWith("?cast.station&cast.depth>10&cast.temp<11")))

    // refusals: unknown member, unknown sequence, =~ on a numeric member,
    // unquoted string literal, non-numeric literal, empty list, bad shape
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Seq("nope>1")))
    }.getMessage.contains("unknown member"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("ghost" -> Seq("depth>1")))
    }.getMessage.contains("not a Sequence"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Seq("depth=~\"x\"")))
    }.getMessage.contains("only defined on String"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Seq("station=abc")))
    }.getMessage.contains("double-quoted"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Seq("depth>abc")))
    }.getMessage.contains("numeric literal"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Nil))
    }.getMessage.contains("empty"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("cast" -> Seq("depth ~ 1")))
    }.getMessage.contains("not <member><op><literal>"))
  }

  test("nested Sequence end-to-end: two-level tidy rows; projection/selection compose (r14)") {
    val base = Dap2Fixture.ensureSeqNested(spark)
    val entries = Dap2Index.read(spark, base)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getSeq[String](1).toSeq, r.getSeq[Long](2).toSeq,
        Option(r.get(3)), Option(r.get(4)))).toSet
    val full = rows(Dap2Index.decodeSequences(entries))
    val pdims = Seq("prof", "prof.profile")
    val want = (0 until Dap2Fixture.nestN).flatMap { i =>
      Seq(
        ("prof.station", Seq("prof"), Seq(i.toLong),
          Some(Dap2Fixture.nestStation(i).toDouble), None),
        ("prof.lat", Seq("prof"), Seq(i.toLong), Some(Dap2Fixture.nestLat(i)), None)) ++
      (0 until Dap2Fixture.nestCount(i)).flatMap { j =>
        Seq(
          ("prof.profile.depth", pdims, Seq(i.toLong, j.toLong),
            Some(Dap2Fixture.nestDepth(i, j).toDouble), None),
          ("prof.profile.o2", pdims, Seq(i.toLong, j.toLong),
            Some(Dap2Fixture.nestO2(i, j)), None))
      }
    }.toSet
    assert(full === want)
    // record 0 has an EMPTY inner stream — no phantom inner rows at i=0
    assert(!full.exists(r => r._1.startsWith("prof.profile") && r._3.head == 0L))

    // projecting the nested member by NAME keeps its subtree, an outer
    // selection composes, and the whole CE pushes to the server
    import scala.jdk.CollectionConverters._
    Dap2Fixture.seqRequests.clear()
    val sub = rows(Dap2Index.decodeSequences(entries,
      project = Map("prof" -> Seq("station", "profile")),
      select = Map("prof" -> Seq("station>107"))))
    val keep = (0 until Dap2Fixture.nestN).filter(Dap2Fixture.nestStation(_) > 107)
    assert(keep == Seq(2, 3))
    val want2 = keep.zipWithIndex.flatMap { case (i, r) =>
      Seq(("prof.station", Seq("prof"), Seq(r.toLong),
        Some(Dap2Fixture.nestStation(i).toDouble), None: Option[Any])) ++
      (0 until Dap2Fixture.nestCount(i)).flatMap { j =>
        Seq(
          ("prof.profile.depth", pdims, Seq(r.toLong, j.toLong),
            Some(Dap2Fixture.nestDepth(i, j).toDouble), None: Option[Any]),
          ("prof.profile.o2", pdims, Seq(r.toLong, j.toLong),
            Some(Dap2Fixture.nestO2(i, j)), None: Option[Any]))
      }
    }.toSet
    assert(sub === want2)
    val reqs = Dap2Fixture.seqRequests.asScala.filter(_.contains("profiles")).toList
    assert(reqs.nonEmpty)
    assert(reqs.forall(_.endsWith("?prof.station,prof.profile&prof.station>107")),
      reqs.toString)

    // selecting ON the nested member itself refuses loudly
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("prof" -> Seq("profile>1")))
    }.getMessage.contains("nested Sequence"))

    // INNER-member selection (r14): the server filters inner records;
    // outer records remain — i=3 keeps ZERO inner records and must still
    // appear on the outer plane with an empty inner stream
    Dap2Fixture.seqRequests.clear()
    val isel = rows(Dap2Index.decodeSequences(entries,
      select = Map("prof" -> Seq("station>100", "profile.o2>=4.0"))))
    val oKeep = (1 until Dap2Fixture.nestN) // station>100 drops i=0
    def jKeep(i: Int) =
      (0 until Dap2Fixture.nestCount(i)).filter(j => Dap2Fixture.nestO2(i, j) >= 4.0)
    assert(oKeep.map(i => i -> jKeep(i)).toMap == Map(1 -> Seq(), 2 -> Seq(1), 3 -> Seq()))
    val wantI = oKeep.zipWithIndex.flatMap { case (i, r) =>
      Seq(
        ("prof.station", Seq("prof"), Seq(r.toLong),
          Some(Dap2Fixture.nestStation(i).toDouble), None: Option[Any]),
        ("prof.lat", Seq("prof"), Seq(r.toLong),
          Some(Dap2Fixture.nestLat(i)), None: Option[Any])) ++
      jKeep(i).zipWithIndex.flatMap { case (j, jr) =>
        Seq(
          ("prof.profile.depth", pdims, Seq(r.toLong, jr.toLong),
            Some(Dap2Fixture.nestDepth(i, j).toDouble), None: Option[Any]),
          ("prof.profile.o2", pdims, Seq(r.toLong, jr.toLong),
            Some(Dap2Fixture.nestO2(i, j)), None: Option[Any]))
      }
    }.toSet
    assert(isel === wantI)
    assert(Dap2Fixture.seqRequests.asScala.filter(_.contains("profiles")).forall(
      _.endsWith("?prof&prof.station>100&prof.profile.o2>=4.0")))
    // dotted refusals: unknown inner member; dotting into a scalar
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("prof" -> Seq("profile.nope>1")))
    }.getMessage.contains("unknown member 'nope'"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, select = Map("prof" -> Seq("station.x>1")))
    }.getMessage.contains("not a nested Sequence member"))
  }

  test("deep-nested Sequence end-to-end: three-level selection pushes in one CE (r15)") {
    // the full row surface is oracle-checked by the load_opendap_seq_deep
    // gates; this spec pins what the oracle cannot see — the REQUEST URL
    // (one CE carrying predicates at all three levels; the unfiltered
    // fetch never runs) and the depth-aware refusal edges
    val base = Dap2Fixture.ensureSeqDeep(spark)
    val entries = Dap2Index.read(spark, base)
    import scala.jdk.CollectionConverters._
    Dap2Fixture.seqRequests.clear()
    val rows = Dap2Index.decodeSequences(entries,
        select = Map("deep" -> Seq("station>100", "profile.o2>=3.5",
          "profile.samples.val<201.0")))
      .collect().map(r => (r.getString(0), r.getSeq[Long](2).toSeq,
        Option(r.get(3)), Option(r.get(4)))).toSet
    // the only surviving sample is (i=2, j=0, k=0) → renumbered (1, 0, 0)
    assert(rows.filter(_._1.startsWith("deep.profile.samples")) === Set(
      ("deep.profile.samples.val", Seq(1L, 0L, 0L),
        Some(Dap2Fixture.deepVal(2, 0, 0)), None),
      ("deep.profile.samples.tag", Seq(1L, 0L, 0L),
        None, Some(Dap2Fixture.deepTag(2, 0, 0)))))
    // i=1 survives station>100 but o2>=3.5 empties its profile stream —
    // outer row present (renumbered 0), zero profile rows under it
    assert(rows.exists(r => r._1 == "deep.station" && r._2 == Seq(0L) &&
      r._3 == Some(Dap2Fixture.deepStation(1).toDouble)))
    assert(!rows.exists(r => r._1.startsWith("deep.profile") && r._2.head == 0L))
    val reqs = Dap2Fixture.seqRequests.asScala.filter(_.contains("deepcasts")).toList
    assert(reqs.nonEmpty)
    assert(reqs.forall(_.endsWith(
      "?deep&deep.station>100&deep.profile.o2>=3.5&deep.profile.samples.val<201.0")),
      reqs.toString)
    // depth-aware refusals: dotting THROUGH a scalar, selecting ON a
    // nested member at depth 2, unknown member at depth 3
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries,
        select = Map("deep" -> Seq("profile.depth.x>1")))
    }.getMessage.contains("not a nested Sequence member"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries,
        select = Map("deep" -> Seq("profile.samples>1")))
    }.getMessage.contains("nested Sequence"))
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries,
        select = Map("deep" -> Seq("profile.samples.nope>1")))
    }.getMessage.contains("unknown member 'nope'"))
  }

  test("struct-wrapped Sequence end-to-end: dotted-name stream decode; selection pushes (r15)") {
    // the 0x5A/0xA5 walk under the Structure-shell DDS echo, and the
    // dotted-key selection's request URL — the pins the gate's oracle
    // cannot see
    val base = Dap2Fixture.ensureSeqInStruct(spark)
    val entries = Dap2Index.read(spark, base)
    import scala.jdk.CollectionConverters._
    Dap2Fixture.seqRequests.clear()
    val rows = Dap2Index.decodeSequences(entries,
        select = Map("obs.cast" -> Seq("d>1")))
      .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq,
        r.getSeq[Long](2).toSeq, Option(r.get(3)), Option(r.get(4)))).toSet
    val keep = (0 until Dap2Fixture.sisN).filter(Dap2Fixture.sisD(_) > 1)
    assert(keep == Seq(1, 2, 3, 4)) // d(0) = 1 drops
    val want = keep.zipWithIndex.flatMap { case (i, r) =>
      Seq(
        ("obs.cast.d", Seq("obs.cast"), Seq(r.toLong),
          Some(Dap2Fixture.sisD(i).toDouble), None: Option[Any]),
        ("obs.cast.v", Seq("obs.cast"), Seq(r.toLong),
          Some(Dap2Fixture.sisV(i)), None: Option[Any]),
        ("obs.cast.w", Seq("obs.cast"), Seq(r.toLong),
          None: Option[Any], Some(Dap2Fixture.sisW(i))))
    }.toSet
    assert(rows === want)
    val reqs = Dap2Fixture.seqRequests.asScala.filter(_.contains("structseq")).toList
    assert(reqs.nonEmpty)
    assert(reqs.forall(_.endsWith("?obs.cast&obs.cast.d>1")), reqs.toString)
  }

  test("Sequence fetch bound: an oversized record stream refuses loudly (r14)") {
    val base = Dap2Fixture.ensureSeq(spark)
    val entries = Dap2Index.read(spark, base)
    val e = intercept[Exception] {
      Dap2Index.decodeSequences(entries, maxFetchBytes = 8).collect()
    }
    val texts = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(texts.contains("fetch bound"), texts)
    // ...and the refusal points at the protocol's own subsetting paths
    assert(texts.contains("selection"), texts)
    assert(intercept[IllegalArgumentException] {
      Dap2Index.decodeSequences(entries, maxFetchBytes = 0)
    }.getMessage.contains("maxFetchBytes"))
  }

  test("DAS: nested containers flatten to dotted attribute scopes (r12)") {
    val das = Dap2Index.parseDas(
      """Attributes {
        |    obs {
        |        String source "buoy";
        |        depth {
        |            String units "m";
        |            Float64 scale_factor 0.5;
        |        }
        |    }
        |}""".stripMargin)
    assert(das("obs") === Map("source" -> "buoy"))
    assert(das("obs.depth") === Map("units" -> "m", "scale_factor" -> 0.5))
  }

  test("XDR golden bytes: String array count-once framing round-trips") {
    // hand-written per RFC 4506 §4.11 + the count-once DAP string-vector
    // convention: n=2, then "AB" (len 2, 2 pad) and "C" (len 1, 3 pad)
    val golden = Array[Byte](
      0, 0, 0, 2,
      0, 0, 0, 2, 'A', 'B', 0, 0,
      0, 0, 0, 1, 'C', 0, 0, 0)
    // the fixture's independent encoder must produce exactly these bytes
    assert(Dap2Fixture.xdrStringArray(Array("AB", "C")).toSeq === golden.toSeq)
    // and the client parser must decode them back
    val parsed = graft.sources.XdrStringArray.parse(golden)
    assert((0 until parsed.numElements()).map(parsed.getUTF8String(_).toString)
      === Seq("AB", "C"))
    // trailing garbage and truncation refuse loudly
    assert(intercept[IllegalArgumentException] {
      graft.sources.XdrStringArray.parse(golden :+ 0.toByte)
    }.getMessage.contains("trailing"))
    assert(intercept[IllegalArgumentException] {
      graft.sources.XdrStringArray.parse(golden.dropRight(4))
    }.getMessage.contains("truncated"))
  }

  test("String labels decode end-to-end against parquet truth") {
    val base = Dap2Fixture.ensure(spark, dir)
    val entries = Dap2Index.read(spark, base, Map.empty)
    val got = Dap2Index.decodeLabels(entries, Dap2Index.materialize(entries))
      .select(col("variable"), array_join(col("dims"), ".").as("dims"),
        array_join(transform(col("coords"), c => c.cast("string")), ".").as("ck"),
        col("label"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val want = spark.read.parquet(s"$dir/region.parquet")
      .select("r_regionkey", "r_name").orderBy("r_regionkey").collect()
      .zipWithIndex.map { case (r, j) => ("r_name", "region", j.toString, r.getString(1)) }.toSet
    assert(got === want)
    // the numeric plane ignores the |O variable entirely (no null rows)
    assert(!tidy(Map.empty).select("variable").distinct()
      .collect().map(_.getString(0)).contains("r_name"))
  }

  test("Grid maps surface as the CF coordinates attribute in .zattrs") {
    val base = Dap2Fixture.ensure(spark, dir)
    val z = Dap2Index.read(spark, base, Map.empty)
      .filter(col("key") === "key_sum/.zattrs")
      .select("inline_value").head().getString(0)
    assert(z.contains("\"coordinates\":\"nation region\""), z)
    // non-grid variables carry no coordinates attribute
    val flat = Dap2Index.read(spark, base, Map.empty)
      .filter(col("key") === "flag/.zattrs")
      .select("inline_value").head().getString(0)
    assert(!flat.contains("coordinates"), flat)
  }

  test("DAS: typed attribute decode incl. globals") {
    val das = Dap2Index.parseDas(Dap2Fixture.dasText)
    assert(das("NC_GLOBAL")("title").toString.contains("fixture"))
    assert(das("n_nationkey")("units") === "id")
  }

  // ------------------------------------------------------- end-to-end

  private def tidy(storageOptions: Map[String, String]) = {
    val base = Dap2Fixture.ensure(spark, dir)
    val entries = Dap2Index.read(spark, base, storageOptions)
    KerchunkIndex.decodeCoords(
      Dap2Index.materialize(entries),
      KerchunkIndex.arrayMeta(entries),
      KerchunkIndex.attrDims(entries))
  }

  test("end-to-end: every variable round-trips parquet truth over the wire") {
    val got = tidy(Map.empty)
      .select(col("variable"), array_join(col("dims"), ".").as("dims"),
        array_join(transform(col("coords"), c => c.cast("string")), ".").as("ck"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet

    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_regionkey").orderBy("n_nationkey").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val region = spark.read.parquet(s"$dir/region.parquet")
      .select("r_regionkey").orderBy("r_regionkey").collect().map(_.getAs[Number](0).longValue)

    val want = nation.zipWithIndex.flatMap { case ((nk, rk), i) => Seq(
      ("n_nationkey", "nation", i.toString, nk.toDouble),
      ("n_regionkey", "nation", i.toString, rk.toDouble),
      ("flag", "nation", i.toString, (nk % 3).toDouble),
      ("nation", "nation", i.toString, nk.toDouble)) }.toSet ++
      region.zipWithIndex.flatMap { case (r, j) => Seq(
        ("r_regionkey", "region", j.toString, r.toDouble),
        ("region", "region", j.toString, r.toDouble)) } ++
      nation.zipWithIndex.flatMap { case ((nk, _), i) =>
        region.zipWithIndex.map { case (r, j) => ("key_sum", "nation.region", s"$i.$j", (nk + r).toDouble) } }
    assert(got === want)
  }

  test("hyperslab banding: a tiny chunk budget fans into many requests, same values") {
    val small = tidy(Map(Dap2Index.MaxChunkBytesOption -> "64"))
    val whole = tidy(Map.empty)
    val smallRefs = Dap2Index.read(spark, Dap2Fixture.ensure(spark, dir),
      Map(Dap2Index.MaxChunkBytesOption -> "64")).filter(col("kind") === "ref").count()
    val wholeRefs = Dap2Index.read(spark, Dap2Fixture.ensure(spark, dir), Map.empty)
      .filter(col("kind") === "ref").count()
    assert(wholeRefs === 8L,
      "default budget: one request per variable (incl. the Grid's maps + the r_name label vector)")
    assert(smallRefs > wholeRefs, "64-byte budget must band the bigger variables")
    val k = Seq("variable", "coords")
    assert(small.select(col("variable"), col("coords"), col("value")).collect().toSet ===
      whole.select(col("variable"), col("coords"), col("value")).collect().toSet)
  }

  test("catalog flow: open_esm_datastore -> search -> to_dataset_dict over opendap assets") {
    val got = gates.Gates("load_catalog_opendap").build(spark, dir).collect()
    assert(got.length === 14) // 2 members x 7 variables (incl. the Grid's maps)
    val keySum = got.filter(r => r.getString(1) == "key_sum")
    assert(keySum.map(_.getString(0)).toSet === Set("1", "2"))
    assert(keySum.forall(_.getLong(2) === 125L))
  }

  test("openAsset dispatch: format 'opendap' reaches the DAP2 plane") {
    val base = Dap2Fixture.ensure(spark, dir)
    val src = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil,
      storageOptions = Map("graft.kerchunk.decode" -> "coords"))
    val df = src.openAsset(spark, base, "opendap")
    assert(df.filter(col("variable") === "key_sum").count() === 125L)
  }

  test("CF decode layers over the DAP2 plane: DAS scale/offset unpack") {
    // the fixture DAS declares scale_factor=2 / add_offset=10 on
    // n_nationkey; decode=cf must unpack exactly raw*2+10 while leaving
    // un-attributed variables at identity — DAS attributes ride the same
    // synthesized .zattrs plane every container shares
    val base = Dap2Fixture.ensure(spark, dir)
    def open(mode: String) = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> mode))
      .openAsset(spark, base, "opendap")
    val raw = open("coords").filter(col("variable") === "n_nationkey")
      .select(col("coords")(0).as("i"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cf = open("cf").filter(col("variable") === "n_nationkey")
      .select(col("coords")(0).as("i"), col("value"), col("time"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.get(2)))).toMap
    assert(raw.nonEmpty && cf.keySet == raw.keySet)
    raw.foreach { case (i, v) =>
      assert(cf(i)._1 == v * 2.0 + 10.0, s"i=$i")
      assert(cf(i)._2 == null) // units "id" is not time-like
    }
  }
}
