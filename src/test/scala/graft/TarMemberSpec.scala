package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TarMember

/** TarMember ustar/PAX/GNU header walk + tar-transparent container reads
  * (source.py:94-95 fsspec chaining; tests/test_source.py:49-59). */
class TarMemberSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new org.apache.hadoop.conf.Configuration(false)

  // ------------------------------------------------------------ tar builders

  /** `posix` selects the POSIX header dialect (`ustar\0` magic,
    * NUL-terminated numeric fields); the default writes the `ustar ` magic
    * and space-terminated fields. */
  private def ustarHeader(name: String, size: Long, typeflag: Char = '0',
                          posix: Boolean = false): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII"); System.arraycopy(b, 0, h, off, b.length)
    }
    val end = if (posix) "\u0000" else " "
    put(0, name); put(100, "0000644" + end); put(108, "0000000" + end); put(116, "0000000" + end)
    put(124, f"$size%011o" + end); put(136, "00000000000" + end)
    put(148, "        "); h(156) = typeflag.toByte
    put(257, if (posix) "ustar\u0000" else "ustar "); put(263, "00")
    val sum = h.map(_ & 0xff).sum
    put(148, f"$sum%06o" + (if (posix) "\u0000 " else "  "))
    h
  }

  private def entry(name: String, data: Array[Byte], typeflag: Char = '0',
                    posix: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(ustarHeader(name, data.length.toLong, typeflag, posix))
    bos.write(data)
    bos.write(new Array[Byte]((512 - data.length % 512) % 512))
    bos.toByteArray
  }

  private def writeTar(parts: Array[Byte]*): String = {
    val f = java.nio.file.Files.createTempFile("graft-tar", ".tar")
    val bos = new java.io.ByteArrayOutputStream()
    parts.foreach(bos.write)
    bos.write(new Array[Byte](1024))
    java.nio.file.Files.write(f, bos.toByteArray)
    f.toString
  }

  // ----------------------------------------------------------------- parsing

  test("parse splits member and archive at the first ::") {
    assert(TarMember.parse("tar://a/b.nc::file:///t.tar") === Some(("a/b.nc", "file:///t.tar")))
    assert(TarMember.parse("tar://m::/p/x.tar") === Some(("m", "/p/x.tar")))
    assert(TarMember.parse("/plain/path.nc").isEmpty)
    assert(TarMember.parse("tar://no-separator").isEmpty)
  }

  test("locate finds a member past a decoy, with correct offset and length") {
    val decoy = "decoy-bytes".getBytes("US-ASCII")
    val want  = Array.tabulate[Byte](700)(i => (i % 251).toByte)
    val tar   = writeTar(entry("decoy.txt", decoy), entry("data.bin", want))
    val (path, off, len) = TarMember.locate(s"tar://data.bin::$tar", conf)
    assert(path === tar)
    assert(len === 700L)
    // decoy entry: 512 header + 512 padded data; then our header
    assert(off === 512L + 512L + 512L)
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tar))
    assert(all.slice(off.toInt, off.toInt + len.toInt) === want)
  }

  test("PAX extended header overrides the next entry's path") {
    val longName = "deeply/nested/" + ("x" * 140) + ".nc"
    val rec = {
      // len counts the whole record incl. the length digits themselves
      def mk(body: String, guess: Int): String = {
        val s = s"$guess $body\n"; if (s.length == guess) s else mk(body, s.length)
      }
      mk(s"path=$longName", 1).getBytes("UTF-8")
    }
    val data = "payload!".getBytes("US-ASCII")
    val tar  = writeTar(entry("PaxHeaders/stub", rec, 'x'), entry("stub", data))
    val (_, off, len) = TarMember.locate(s"tar://$longName::$tar", conf)
    val all = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tar))
    assert(new String(all.slice(off.toInt, off.toInt + len.toInt), "US-ASCII") === "payload!")
  }

  test("GNU longname entry names its successor") {
    val longName = "gnu/" + ("y" * 150) + ".bin"
    val data = Array[Byte](1, 2, 3, 4, 5)
    val tar  = writeTar(entry("././@LongLink", longName.getBytes("UTF-8"), 'L'),
      entry("truncated-stub", data))
    val (_, _, len) = TarMember.locate(s"tar://$longName::$tar", conf)
    assert(len === 5L)
  }

  test("missing member fails loudly, naming the members present") {
    val tar = writeTar(entry("only.txt", "x".getBytes))
    val e = intercept[IllegalArgumentException] {
      TarMember.locate(s"tar://absent.nc::$tar", conf)
    }
    assert(e.getMessage.contains("absent.nc"))
    assert(e.getMessage.contains("only.txt"))
  }

  test("python-tarfile-style ./ prefix difference still matches") {
    val tar = writeTar(entry("./inner.nc", "z".getBytes))
    val (_, _, len) = TarMember.locate(s"tar://inner.nc::$tar", conf)
    assert(len === 1L)
  }

  // ------------------------------------------- tar-transparent container read

  test("a tar-archived classic netCDF decodes identically to the direct read") {
    // the CF fixture (harness.Nc3CfFixture) behind a decoy member, in the
    // POSIX header dialect
    val nc = SparkEntry.ensureCfFixture()
    val member = new java.io.File(nc).getName
    val decoy = "this member is not the one being asked for\n".getBytes("US-ASCII")
    val tar = writeTar(entry("README.txt", decoy, posix = true),
      entry(member, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc)), posix = true))
    val url = s"tar://$member::$tar"
    def decoded(path: String) = {
      val src = graft.catalog.EsmDataSource("t", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "coords"))
      src.openAsset(spark, path, "netcdf")
        .select("variable", "dims", "coords", "value")
        .collect().map(_.toString).sorted
    }
    val direct = decoded(nc)
    val viaTar = decoded(url)
    assert(viaTar === direct)
    // every element of the fixture's 8 variables: 4+3+12+12+4+4+3+4
    assert(direct.length === 46)
  }

  test("a tar-archived HDF5 netCDF-4 decodes identically to the direct read") {
    val nc = SparkEntry.ensureHdf5V4Fixture()
    val member = new java.io.File(nc).getName
    val tar = writeTar(entry(member, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(nc))))
    def decoded(path: String) = {
      val src = graft.catalog.EsmDataSource("t", Nil, "path", None, Nil,
        storageOptions = Map("graft.kerchunk.decode" -> "coords"))
      src.openAsset(spark, path, "netcdf")
        .select("variable", "dims", "coords", "value")
        .collect().map(_.toString).sorted
    }
    val direct = decoded(nc)
    assert(decoded(s"tar://$member::$tar") === direct)
    // 18 ea + 6 fap + 16 bt, the load_netcdf4_v4 oracle's row count
    assert(direct.length === 40)
  }
}
