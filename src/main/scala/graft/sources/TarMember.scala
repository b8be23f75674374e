package graft.sources

/** Resolves fsspec-style chained tar URLs — `tar://{member}::{archive}` —
  * to a (archive path, byte offset, length) triple, the form the byte-range
  * decode plane already consumes.
  *
  * The reference opens tar-archived netCDF assets through fsspec's URL
  * chaining (`intake_esm/source.py:94-95`; its own test builds
  * `tar://{basename}::{tar_path}`, `tests/test_source.py:49-59`). A tar
  * member is a contiguous byte span of the archive, so instead of
  * extracting (fsspec's `open_local` copies to a temp file), the container
  * parsers read AT the member's offset and emit chunk refs pointing
  * straight into the archive — positioned reads stay distributed and no
  * local scratch copy exists to leak or overflow at collection scale.
  *
  * Header walk implements the POSIX ustar layout plus the two long-name
  * extensions real writers emit: PAX extended headers (typeflag 'x'/'g',
  * `len key=value\n` records — python's tarfile default since 3.8) and GNU
  * longname ('L'). Sizes parse as octal or base-256 (GNU large-file
  * encoding). Anything else fails loudly with the archive and member named.
  */
object TarMember {

  /** `tar://member::underlying` → Some((member, underlying)). */
  def parse(url: String): Option[(String, String)] =
    if (url == null || !url.startsWith("tar://")) None
    else {
      val rest = url.stripPrefix("tar://")
      val sep  = rest.indexOf("::")
      if (sep < 0) None else Some((rest.substring(0, sep), rest.substring(sep + 2)))
    }

  def isTarUrl(url: String): Boolean = parse(url).isDefined

  /** Locate the member: (archive path, data offset, data length). The
    * archive path is returned verbatim (scheme and all) so emitted refs
    * read through the same FileSystem the scan used. */
  def locate(url: String, conf: org.apache.hadoop.conf.Configuration): (String, Long, Long) = {
    val (member, archive) = parse(url).getOrElse(
      throw new IllegalArgumentException(s"not a tar:// chained url: '$url'"))
    val hPath = FsPaths.hadoopPath(archive)
    val in =
      try FsPaths.fileSystemFor(hPath, conf).open(hPath)
      catch {
        case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
          FsPaths.connectorRefusal(archive, e)
      }
    try {
      val hdr = new Array[Byte](512)
      var pos = 0L
      var pendingName: Option[String] = None
      var pendingSize: Option[Long]   = None
      val seen = List.newBuilder[String]
      while (true) {
        try in.readFully(pos, hdr, 0, 512)
        catch {
          case _: java.io.EOFException =>
            throw new IllegalArgumentException(
              s"tar '$archive': member '$member' not found (archive truncated at offset $pos)")
        }
        if (hdr.forall(_ == 0)) // end-of-archive marker
          throw new IllegalArgumentException(
            s"tar '$archive': member '$member' not found (members: ${seen.result().mkString(", ")})")
        val rawName  = cstr(hdr, 0, 100)
        val prefix   = cstr(hdr, 345, 155)
        val size     = numeric(hdr, 124, 12, archive)
        val typeflag = hdr(156).toChar
        val dataLen  = (size + 511) / 512 * 512
        typeflag match {
          case 'x' | 'g' => // PAX extended header: records override the NEXT entry
            val recs = paxRecords(readData(in, pos + 512, size, archive))
            recs.get("path").foreach(p => pendingName = Some(p))
            recs.get("size").foreach(s => pendingSize = Some(s.toLong))
          case 'L' => // GNU longname: data IS the next entry's name
            pendingName = Some(cstr(readData(in, pos + 512, size, archive), 0, size.toInt))
          case _ =>
            val name = pendingName.getOrElse(if (prefix.isEmpty) rawName else s"$prefix/$rawName")
            val effSize = pendingSize.getOrElse(size)
            pendingName = None; pendingSize = None
            val isFile = typeflag == '0' || typeflag == '\u0000'
            if (isFile) {
              // fsspec matches the member path as written; accept a "./" prefix
              // difference in either direction (tar -C . writes "./name")
              if (name == member || name.stripPrefix("./") == member.stripPrefix("./"))
                return (archive, pos + 512, effSize)
              seen += name
            }
            // non-file entries (dirs, links) have no data to skip beyond dataLen
        }
        pos += 512 + dataLen
      }
      sys.error("unreachable")
    } finally in.close()
  }

  private def readData(in: org.apache.hadoop.fs.FSDataInputStream, pos: Long, size: Long,
                       archive: String): Array[Byte] = {
    require(size <= (1L << 20),
      s"tar '$archive': metadata record of $size bytes exceeds the 1 MiB sanity bound")
    val a = new Array[Byte](size.toInt)
    in.readFully(pos, a, 0, a.length)
    a
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val stop = math.min(off + len, b.length)
    while (end < stop && b(end) != 0) end += 1
    new String(b, off, end - off, "UTF-8")
  }

  /** Octal ASCII (possibly space/NUL-terminated) or GNU base-256. */
  private def numeric(hdr: Array[Byte], off: Int, len: Int, archive: String): Long =
    if ((hdr(off) & 0x80) != 0) { // base-256: big-endian with the top bit set
      var v = (hdr(off) & 0x7fL)
      var i = off + 1
      while (i < off + len) { v = (v << 8) | (hdr(i) & 0xffL); i += 1 }
      v
    } else {
      val s = cstr(hdr, off, len).trim
      if (s.isEmpty) 0L
      else
        try java.lang.Long.parseLong(s, 8)
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"tar '$archive': unparseable size field '$s'")
        }
    }

  /** PAX data: repeated `<len> <key>=<value>\n`, len counting the whole record. */
  private def paxRecords(data: Array[Byte]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var pos = 0
    while (pos < data.length) {
      var sp = pos
      while (sp < data.length && data(sp) != ' ') sp += 1
      if (sp >= data.length) return out.result()
      val recLen = new String(data, pos, sp - pos, "UTF-8").trim.toInt
      val rec    = new String(data, sp + 1, pos + recLen - sp - 2, "UTF-8") // drop trailing \n
      val eq     = rec.indexOf('=')
      if (eq > 0) out += rec.substring(0, eq) -> rec.substring(eq + 1)
      pos += recLen
    }
    out.result()
  }
}
