package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** HDF5 (netCDF-4) container reader — the last leg of the reference's
  * `netcdf` format dispatch (intake_esm/source.py:97-109), implemented from
  * the public HDF5 File Format Specification (v3.0) with no external
  * library. Every one of the reference's own sample `.nc` assets is an
  * HDF5-backed netCDF-4 file, so this is the format a reference user
  * actually opens.
  *
  * Spark-first shape, same as [[NetCDF3Index]]: the container STRUCTURE is
  * parsed in one executor task and translated into the shared chunk-map
  * plane ([[KerchunkIndex]] entry rows) — synthesized `.zarray`/`.zattrs`
  * documents plus one byte-range ref per HDF5 chunk — so
  * `materializeChunks` / `decodeTyped` / `decodeCoords` (offset-banded
  * positioned reads, typed decode, labeled coordinates) serve netCDF-4
  * unchanged and fully distributed. The HDF5 filter pipeline maps exactly
  * onto the plane's zarr decode: deflate = the zarr `zlib` compressor,
  * shuffle = the zarr `shuffle` filter (same byte transpose), chunked
  * edge chunks are stored padded to full chunk shape in both formats
  * (decodeCoords drops the padding), and compact-layout data becomes a
  * base64 inline entry.
  *
  * Structures implemented (all from the public spec): superblock v0/v2/v3,
  * object headers v1 and v2 (`OHDR`, with `OCHK` continuations), old-style
  * groups (v1 B-tree + `SNOD` + local heap), new-style compact links and
  * dense links (fractal heap `FRHP`/`FHDB`/`FHIB` + v2 B-tree
  * `BTHD`/`BTLF`/`BTIN` record types 5/8, huge objects via record type 1,
  * tiny heap IDs), compact and dense attributes (message v1/v2/v3),
  * dataspace v1/v2, datatypes (fixed/float/string/vlen/reference), the
  * global heap (`GCOL`, for vlen attribute values), data layout v3
  * (compact / contiguous / chunked via v1 B-tree node type 1), and filter
  * pipeline v1/v2 for deflate + shuffle.
  *
  * The netCDF-4 semantic layer on top follows the public netCDF-4/HDF5
  * dimension-scale convention: a variable's per-axis dimension names come
  * from its `DIMENSION_LIST` attribute (vlen of object references into the
  * global heap, resolved against the dataset's path), a dimension-scale
  * dataset (`CLASS = "DIMENSION_SCALE"`) is its own 1-D coordinate, and
  * the bookkeeping attributes (`REFERENCE_LIST`, `_Netcdf4Dimid`,
  * `_NCProperties`, ...) are hidden from the synthesized `.zattrs` —
  * the same translation the kerchunk project applies to netCDF-4.
  *
  * Data layout v4 (HDF5 1.10+ "latest format") decodes through all five
  * chunk index types: single chunk (filtered and plain), implicit,
  * fixed array (paged and unpaged, plain and filtered clients),
  * extensible array (inline/direct/super-block elements — the index a
  * netCDF-4 record variable gets under `H5Pset_libver_bounds(LATEST)`),
  * and v2 b-tree records 10/11.
  *
  * Soft (symbolic) links resolve since r11 — both encodings: link
  * messages of type 1 and old-style symbol-table entries with cache type
  * 2 (value in the group's local heap). A soft link surfaces its target
  * object (dataset or whole group subtree) under the link's own path,
  * h5py-style; targets may be absolute or relative, chains resolve
  * iteratively, and cycles/dangling targets refuse loudly.
  *
  * External links (type 64) resolve since r11, one level deep: the target
  * file parses in the same task and the target object surfaces under the
  * link's path with chunk refs carrying the TARGET file's url (the
  * kerchunk-shaped row model already spans files). Relative file names
  * resolve against the linking file's directory; missing files/objects,
  * chained cross-file links inside the target subtree, and links out of
  * tar members refuse loudly.
  *
  * Refused loudly (absent from the reference's entire sample corpus,
  * verified by a 399-file survey): virtual (class 3) storage, paged
  * extensible-array data blocks, filters other than
  * deflate/shuffle/fletcher32 (szip/nbit/scaleoffset — fletcher32
  * decodes via the shared filter plane since the blosc work), per-chunk
  * filter masks, shared datatype/dataspace messages, user link types,
  * nested soft links inside aliased subtrees, filtered fractal heaps, and
  * VAX floats. Chunks never written stay absent from the map — the
  * fill-value semantics of both netCDF and zarr.
  */
object Hdf5Index {

  private val UNDEF = -1L // 0xFFFFFFFFFFFFFFFF: the spec's undefined address

  // ---------------------------------------------------------------- readers

  /** Positioned reads over one open file plus little-endian field helpers —
    * HDF5 metadata is little-endian regardless of the data byte order.
    * `base` shifts every read: HDF5 internal addresses are relative to the
    * superblock (the spec's userblock rule), so a container embedded in a
    * tar archive parses unchanged once reads are offset by the member
    * position. */
  private final class Reader(in: org.apache.hadoop.fs.FSDataInputStream, path: String,
                             val base: Long = 0L) {
    def bytes(pos: Long, n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      try in.readFully(base + pos, a, 0, n)
      catch {
        case e: java.io.EOFException => throw new IllegalArgumentException(
          s"hdf5 '$path': truncated read of $n bytes at offset $pos", e)
      }
      a
    }
    def u8(pos: Long): Int   = bytes(pos, 1)(0) & 0xff
    def u16(pos: Long): Int  = B.u(bytes(pos, 2), 0, 2).toInt
    def u32(pos: Long): Long = B.u(bytes(pos, 4), 0, 4)
    def u64(pos: Long): Long = B.u(bytes(pos, 8), 0, 8)
    def sig(pos: Long): String = new String(bytes(pos, 4), "US-ASCII")
  }

  /** Little-endian unsigned field decode inside a message body. */
  private object B {
    def u(b: Array[Byte], off: Int, n: Int): Long = {
      var v = 0L; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
      v
    }
  }

  private def fail(path: String, what: String): Nothing =
    throw new UnsupportedOperationException(s"hdf5 '$path': $what — behind the connector boundary")

  // ------------------------------------------------------------ structures

  private final case class Msg(mtype: Int, body: Array[Byte])

  /** A group's outgoing link: hard (to an object header) or soft (to an
    * in-file path, resolved after the hard walk). */
  private sealed trait GroupLink { def name: String }
  private final case class HardLink(name: String, addr: Long) extends GroupLink
  private final case class SoftLink(name: String, target: String) extends GroupLink
  private final case class ExternalLink(name: String, file: String, objPath: String)
    extends GroupLink

  /** `unlimited(i)` = max size of dim i is H5S_UNLIMITED (netCDF-4's
    * record dimension marker; empty when the message carries no maxdims). */
  private final case class Dataspace(dims: Seq[Long], unlimited: Seq[Boolean] = Nil)
  /** `order` is "<"/">"; `kind` numpy-style: i/u/f/S/V (V = undecodable). */
  private final case class Datatype(cls: Int, size: Int, order: String, kind: String,
                                    baseCls: Int = -1)
  private sealed trait Layout
  private final case class Contiguous(addr: Long, size: Long) extends Layout
  private final case class Chunked(btree: Long, chunkDims: Seq[Long], elemSize: Long) extends Layout
  private final case class Compact(data: Array[Byte]) extends Layout
  /** Data layout message v4 (HDF5 1.10+ "latest format"): the chunk index
    * moved out of the message into one of five index structures; the
    * message itself carries only the chunk grid and the index address.
    * `singleFilteredSize` is >= 0 only for index type 1 with the
    * filtered-single-chunk flag (the stored size lives in the message). */
  private final case class ChunkedV4(indexType: Int, addr: Long, chunkDims: Seq[Long],
                                     singleFilteredSize: Long,
                                     elemSizeEntry: Long) extends Layout

  /** One parsed attribute: name plus a decoded value. */
  private sealed trait AV
  private final case class AStr(s: String) extends AV
  private final case class ADbl(xs: List[Double]) extends AV
  private final case class AInt(xs: List[Long]) extends AV
  private final case class AStrs(xs: List[String]) extends AV
  /** vlen-of-object-reference (`DIMENSION_LIST`): per outer element, the
    * referenced object header addresses. */
  private final case class ARefs(refs: List[List[Long]]) extends AV
  private case object ASkip extends AV

  private final class Parser(r: Reader, path: String) {

    // ------------------------------------------------------------ superblock
    val rootHeaderAddr: Long = {
      require(r.bytes(0, 8).sameElements(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
        .map(_.toByte)), s"hdf5 '$path': bad signature")
      val ver = r.u8(8)
      ver match {
        case 0 | 1 =>
          require(r.u8(13) == 8 && r.u8(14) == 8,
            s"hdf5 '$path': only 8-byte offsets/lengths are supported")
          // root group symbol-table entry: after base(8) free(8) eof(8) drv(8)
          val steAddr = 24L + 4 * 8
          r.u64(steAddr + 8) // object header address within the STE
        case 2 | 3 =>
          require(r.u8(9) == 8 && r.u8(10) == 8,
            s"hdf5 '$path': only 8-byte offsets/lengths are supported")
          r.u64(12 + 3 * 8) // base, ext, eof, then root header address
        case other => fail(path, s"superblock version $other")
      }
    }

    // --------------------------------------------------------- object header

    def messages(addr: Long): List[Msg] = {
      if (r.sig(addr) == "OHDR") messagesV2(addr) else messagesV1(addr)
    }

    private def messagesV1(addr: Long): List[Msg] = {
      val ver = r.u8(addr)
      require(ver == 1, s"hdf5 '$path': object header version $ver at $addr")
      val nmsg = r.u16(addr + 2)
      val hdrSize = r.u32(addr + 8)
      val out = List.newBuilder[Msg]
      var blocks = List((addr + 16, hdrSize))
      var got = 0
      while (blocks.nonEmpty && got < nmsg) {
        val (off, size) = blocks.head; blocks = blocks.tail
        var p = off
        while (p + 8 <= off + size && got < nmsg) {
          val mtype = r.u16(p)
          val msize = r.u16(p + 2)
          val flags = r.u8(p + 4)
          require((flags & 0x02) == 0 || mtype == 0x08,
            s"hdf5 '$path': shared message (type 0x${mtype.toHexString}) unsupported")
          val body = r.bytes(p + 8, msize)
          if (mtype == 0x10) blocks = blocks :+ (B.u(body, 0, 8), B.u(body, 8, 8))
          out += Msg(mtype, body)
          got += 1
          p += 8 + msize
        }
      }
      out.result()
    }

    private def messagesV2(addr: Long): List[Msg] = {
      val flags = r.u8(addr + 5)
      var p = addr + 6
      if ((flags & 0x20) != 0) p += 16
      if ((flags & 0x10) != 0) p += 4
      val szLen = 1 << (flags & 0x3)
      val size0 = B.u(r.bytes(p, szLen), 0, szLen)
      p += szLen
      val track = (flags & 0x04) != 0
      val hdrLen = 4 + (if (track) 2 else 0)
      val out = List.newBuilder[Msg]
      // cycle guard: a corrupt continuation chain pointing back at a seen
      // block must refuse loudly, not loop the executor forever
      val seen = scala.collection.mutable.Set[Long](p)
      var blocks = List((p, size0))
      while (blocks.nonEmpty) {
        val (off, size) = blocks.head; blocks = blocks.tail
        var q = off
        val end = off + size
        while (end - q >= hdrLen) {
          val mtype = r.u8(q)
          val msize = r.u16(q + 1)
          val mflags = r.u8(q + 3)
          require((mflags & 0x02) == 0 || mtype == 0x08,
            s"hdf5 '$path': shared message (type 0x${mtype.toHexString}) unsupported")
          q += hdrLen
          val body = r.bytes(q, msize)
          if (mtype == 0x10) {
            val ca = B.u(body, 0, 8); val cl = B.u(body, 8, 8)
            require(r.sig(ca) == "OCHK", s"hdf5 '$path': bad continuation at $ca")
            require(seen.add(ca + 4), s"hdf5 '$path': cyclic header continuation at $ca")
            blocks = blocks :+ (ca + 4, cl - 8) // strip signature + trailing checksum
          }
          out += Msg(mtype, body)
          q += msize
        }
      }
      out.result()
    }

    // -------------------------------------------------------------- groups

    /** All links of a group: hard (name → object header address), soft
      * (name → in-file target path, resolved by the traversal in
      * `parseFile`) and external (name → target file + object path,
      * resolved one level deep in `readMany`, which can open other
      * files). User link types (65+) keep refusing loudly. */
    def groupLinks(ms: List[Msg]): List[GroupLink] = {
      val out = List.newBuilder[GroupLink]
      ms.foreach { m =>
        m.mtype match {
          case 0x06 => parseLink(m.body).foreach(out += _)
          case 0x11 => out ++= symtabLinks(B.u(m.body, 0, 8), B.u(m.body, 8, 8))
          case 0x02 =>
            val flags = m.body(1) & 0xff
            var p = 2
            if ((flags & 1) != 0) p += 8
            val fheap = B.u(m.body, p, 8)
            val nameIdx = B.u(m.body, p + 8, 8)
            if (fheap != UNDEF) {
              val heap = fractalHeap(fheap)
              val (rt, recs) = btree2Records(nameIdx)
              require(rt == 5, s"hdf5 '$path': link name index has record type $rt")
              recs.foreach { rec => // type 5: hash(4) + heap id(7)
                parseLink(heap(java.util.Arrays.copyOfRange(rec, 4, 11))).foreach(out += _)
              }
            }
          case _ =>
        }
      }
      out.result()
    }

    private def parseLink(m: Array[Byte]): Option[GroupLink] = {
      require((m(0) & 0xff) == 1, s"hdf5 '$path': link message version ${m(0)}")
      val flags = m(1) & 0xff
      var p = 2
      var ltype = 0
      if ((flags & 0x08) != 0) { ltype = m(p) & 0xff; p += 1 }
      if ((flags & 0x04) != 0) p += 8
      if ((flags & 0x10) != 0) p += 1
      val lsz = 1 << (flags & 0x3)
      val nlen = B.u(m, p, lsz).toInt
      p += lsz
      val name = new String(m, p, nlen, "UTF-8")
      p += nlen
      if (ltype == 0) Some(HardLink(name, B.u(m, p, 8)))
      else if (ltype == 1) {
        // soft link (spec IV.A.2.g): 2-byte length + target path bytes
        val vlen = B.u(m, p, 2).toInt
        // same fit check as the external-link branch: a truncated message
        // must refuse with file context, not throw a bare string-bounds error
        require(p + 2 + vlen <= m.length,
          s"hdf5 '$path': soft link '$name' value ($vlen bytes) overruns its message")
        Some(SoftLink(name, new String(m, p + 2, vlen, "UTF-8")))
      }
      else if (ltype == 64) {
        // external link (spec IV.A.2.g + the H5L blob layout): 2-byte
        // length, then a version/flags byte (must be 0), NUL-terminated
        // target FILE name, NUL-terminated target object path
        val vlen = B.u(m, p, 2).toInt
        // the declared value must FIT the message: copyOfRange would
        // silently zero-pad a truncated blob, and a pad zero would then
        // pass for the object path's terminating NUL
        require(p + 2 + vlen <= m.length,
          s"hdf5 '$path': external link '$name' value ($vlen bytes) overruns its message")
        val blob = java.util.Arrays.copyOfRange(m, p + 2, p + 2 + vlen)
        require(blob.length >= 4 && blob(0) == 0,
          s"hdf5 '$path': external link '$name' has a malformed value blob " +
            s"(${blob.length} bytes, version/flags ${if (blob.isEmpty) "none" else blob(0)})")
        val nul1 = blob.indexOf(0.toByte, 1)
        require(nul1 > 1, s"hdf5 '$path': external link '$name' has an empty target file")
        val file = new String(blob, 1, nul1 - 1, "UTF-8")
        val end = { val n2 = blob.indexOf(0.toByte, nul1 + 1); if (n2 < 0) blob.length else n2 }
        require(end > nul1 + 1,
          s"hdf5 '$path': external link '$name' has an empty target object path")
        Some(ExternalLink(name, file, new String(blob, nul1 + 1, end - nul1 - 1, "UTF-8")))
      }
      else fail(path, s"link '$name' of type $ltype (user)")
    }

    private def symtabLinks(btreeAddr: Long, heapAddr: Long): List[GroupLink] = {
      require(r.sig(heapAddr) == "HEAP", s"hdf5 '$path': bad local heap at $heapAddr")
      val heapData = r.u64(heapAddr + 24)
      def name(off: Long): String = {
        val sb = new StringBuilder
        var p = heapData + off
        var c = r.u8(p)
        while (c != 0) { sb.append(c.toChar); p += 1; c = r.u8(p) }
        sb.toString
      }
      val out = List.newBuilder[GroupLink]
      val seenNodes = scala.collection.mutable.Set.empty[Long]
      def walk(addr: Long): Unit = {
        require(seenNodes.add(addr), s"hdf5 '$path': cyclic group b-tree at $addr")
        require(r.sig(addr) == "TREE", s"hdf5 '$path': bad group b-tree node at $addr")
        val ntype = r.u8(addr + 4); val nlevel = r.u8(addr + 5)
        val nent = r.u16(addr + 6)
        require(ntype == 0, s"hdf5 '$path': b-tree node type $ntype in group tree")
        var p = addr + 24 + 8 // past siblings + key 0
        var i = 0
        while (i < nent) {
          val child = r.u64(p)
          p += 16 // child + next key
          if (nlevel > 0) walk(child)
          else {
            require(r.sig(child) == "SNOD", s"hdf5 '$path': bad symbol node at $child")
            val nsym = r.u16(child + 6)
            var q = child + 8
            var j = 0
            while (j < nsym) {
              // symbol entry: name off(8) + ohdr(8) + cache type(4) +
              // reserved(4) + scratch(16). Cache type 2 = symbolic link:
              // scratch[0..3] is the link VALUE's offset in the same
              // local heap (spec III.C); the ohdr field is undefined.
              val cacheType = r.u32(q + 16)
              if (cacheType == 2L)
                out += SoftLink(name(r.u64(q)), name(r.u32(q + 24)))
              else
                out += HardLink(name(r.u64(q)), r.u64(q + 8))
              q += 40; j += 1
            }
          }
          i += 1
        }
      }
      walk(btreeAddr)
      out.result()
    }

    // -------------------------------------------------------- fractal heap

    /** Returns a lookup: heap ID bytes → object bytes. */
    def fractalHeap(addr: Long): Array[Byte] => Array[Byte] = {
      require(r.sig(addr) == "FRHP", s"hdf5 '$path': bad fractal heap at $addr")
      val hidLen = r.u16(addr + 5)
      val ioFilterLen = r.u16(addr + 7)
      require(ioFilterLen == 0, s"hdf5 '$path': filtered fractal heap unsupported")
      var p = addr + 10
      val maxManaged = r.u32(p); p += 4
      p += 8 // next huge id
      val hugeBt = r.u64(p); p += 8
      p += 8L * 10 // free space ... # tiny objects
      val width = r.u16(p); p += 2
      val startBs = r.u64(p); p += 8
      val maxDbs = r.u64(p); p += 8
      val maxHeapBits = r.u16(p); p += 2
      p += 2 // starting # rows
      val rootAddr = r.u64(p); p += 8
      val curRows = r.u16(p)
      val offSz = (maxHeapBits + 7) / 8
      // length field width: sized by the max MANAGED OBJECT size, not the
      // max direct block size (spec III.G, "Length of Object")
      val lenSz = minBytes(maxManaged)
      val maxDbRows = (64 - java.lang.Long.numberOfLeadingZeros(maxDbs)) -
        (64 - java.lang.Long.numberOfLeadingZeros(startBs)) + 2
      // block offset (heap space) → (file address, size); few blocks, sorted
      val blocks = scala.collection.mutable.TreeMap.empty[Long, (Long, Long)]
      def rowSize(row: Int): Long = if (row < 2) startBs else startBs << (row - 1)
      def readDirect(daddr: Long, blockOff: Long, size: Long): Unit = {
        require(r.sig(daddr) == "FHDB", s"hdf5 '$path': bad heap direct block at $daddr")
        blocks(blockOff) = (daddr, size)
      }
      def readIndirect(iaddr: Long, blockOff: Long, nrows: Int): Unit = {
        require(r.sig(iaddr) == "FHIB", s"hdf5 '$path': bad heap indirect block at $iaddr")
        var q = iaddr + 5 + 8 + offSz
        var off = blockOff
        var row = 0
        while (row < nrows) {
          val rs = rowSize(row)
          var i = 0
          while (i < width) {
            val child = r.u64(q); q += 8
            if (child != UNDEF) {
              if (row < maxDbRows) readDirect(child, off, rs)
              else {
                val subRows = (64 - java.lang.Long.numberOfLeadingZeros(rs)) -
                  (64 - java.lang.Long.numberOfLeadingZeros(startBs)) + 1
                readIndirect(child, off, subRows)
              }
            }
            off += rs; i += 1
          }
          row += 1
        }
      }
      if (rootAddr != UNDEF) {
        if (curRows == 0) readDirect(rootAddr, 0, startBs)
        else readIndirect(rootAddr, 0, curRows)
      }
      lazy val hugeRecords: List[Array[Byte]] = {
        val (rt, recs) = btree2Records(hugeBt)
        require(rt == 1, s"hdf5 '$path': huge-object b-tree record type $rt (filtered?)")
        recs
      }
      (heapId: Array[Byte]) => {
        val verType = heapId(0) & 0xff
        (verType >> 4) & 0x3 match {
          case 0 => // managed: offset + length into the block map
            val off = B.u(heapId, 1, offSz)
            val ln = B.u(heapId, 1 + offSz, lenSz).toInt
            blocks.rangeTo(off).lastOption match {
              case Some((boff, (daddr, bsize))) if off < boff + bsize =>
                r.bytes(daddr + (off - boff), ln)
              case _ => throw new IllegalArgumentException(
                s"hdf5 '$path': heap offset $off outside every direct block")
            }
          case 1 => // huge: ID into the huge-object b-tree (addr + len + id)
            val want = B.u(heapId, 1, hidLen - 1)
            hugeRecords.collectFirst {
              case rec if B.u(rec, 16, 8) == want => r.bytes(B.u(rec, 0, 8), B.u(rec, 8, 8).toInt)
            }.getOrElse(throw new IllegalArgumentException(
              s"hdf5 '$path': huge object id $want not found"))
          case 2 => // tiny: payload inline in the id
            val ln = (verType & 0x0F) + 1
            java.util.Arrays.copyOfRange(heapId, 1, 1 + ln)
          case other => fail(path, s"heap id type $other")
        }
      }
    }

    // ------------------------------------------------------------ v2 b-tree

    def btree2Records(addr: Long): (Int, List[Array[Byte]]) = {
      require(r.sig(addr) == "BTHD", s"hdf5 '$path': bad v2 b-tree at $addr")
      val rtype = r.u8(addr + 5)
      val nodeSize = r.u32(addr + 6).toInt
      val recSize = r.u16(addr + 10)
      val depth = r.u16(addr + 12)
      val root = r.u64(addr + 16)
      val rootNrec = r.u16(addr + 24)
      val totalNrec = r.u64(addr + 26)
      val out = List.newBuilder[Array[Byte]]
      if (root == UNDEF || (rootNrec == 0 && totalNrec == 0)) return (rtype, Nil)
      def maxNrec(d: Int): Long =
        if (d == 0) (nodeSize - 10L) / recSize
        else {
          val below = maxNrec(d - 1)
          val ptr = 8 + minBytes(below) + (if (d > 1) minBytes(totalMax(d - 1)) else 0)
          (nodeSize - 10L - ptr) / (recSize + ptr)
        }
      def totalMax(d: Int): Long =
        if (d == 0) maxNrec(0) else maxNrec(d) + (maxNrec(d) + 1) * totalMax(d - 1)
      def walk(naddr: Long, nrec: Int, d: Int): Unit = {
        if (d == 0) {
          require(r.sig(naddr) == "BTLF", s"hdf5 '$path': bad b-tree leaf at $naddr")
          val block = r.bytes(naddr + 6, nrec * recSize)
          var i = 0
          while (i < nrec) {
            out += java.util.Arrays.copyOfRange(block, i * recSize, (i + 1) * recSize)
            i += 1
          }
        } else {
          require(r.sig(naddr) == "BTIN", s"hdf5 '$path': bad b-tree node at $naddr")
          val nb = minBytes(maxNrec(d - 1))
          val tb = if (d > 1) minBytes(totalMax(d - 1)) else 0
          val recBytes = r.bytes(naddr + 6, nrec * recSize)
          var p = naddr + 6 + nrec * recSize
          var i = 0
          while (i <= nrec) {
            val child = r.u64(p); p += 8
            val cn = B.u(r.bytes(p, nb), 0, nb).toInt
            p += nb + tb
            walk(child, cn, d - 1)
            if (i < nrec)
              out += java.util.Arrays.copyOfRange(recBytes, i * recSize, (i + 1) * recSize)
            i += 1
          }
        }
      }
      walk(root, rootNrec, depth)
      (rtype, out.result())
    }

    // ---------------------------------------------------------- global heap

    /** One object from a global heap collection (vlen attribute storage). */
    def gheapObject(collAddr: Long, index: Int): Array[Byte] = {
      require(r.sig(collAddr) == "GCOL", s"hdf5 '$path': bad global heap at $collAddr")
      val collSize = r.u64(collAddr + 8)
      var p = collAddr + 16
      val end = collAddr + collSize
      while (p + 16 <= end) {
        val idx = r.u16(p)
        val osize = r.u64(p + 8)
        if (idx == index) return r.bytes(p + 16, osize.toInt)
        if (idx == 0) fail(path, s"global heap object $index not found")
        p += 16 + ((osize + 7) & ~7L)
      }
      fail(path, s"global heap object $index not found")
    }

    // ----------------------------------------------------------- attributes

    def attributes(ms: List[Msg]): List[(String, AV)] = {
      val out = List.newBuilder[(String, AV)]
      ms.foreach { m =>
        m.mtype match {
          case 0x0C => out += parseAttr(m.body)
          case 0x15 =>
            val flags = m.body(1) & 0xff
            var p = 2
            if ((flags & 1) != 0) p += 2
            val fheap = B.u(m.body, p, 8)
            val nameIdx = B.u(m.body, p + 8, 8)
            if (fheap != UNDEF) {
              val heap = fractalHeap(fheap)
              val (rt, recs) = btree2Records(nameIdx)
              require(rt == 8, s"hdf5 '$path': attribute name index has record type $rt")
              recs.foreach { rec => // type 8: heap id(8) + flags(1) + corder(4) + hash(4)
                out += parseAttr(heap(java.util.Arrays.copyOfRange(rec, 0, 8)))
              }
            }
          case _ =>
        }
      }
      out.result()
    }

    private def parseAttr(m: Array[Byte]): (String, AV) = {
      val ver = m(0) & 0xff
      val nsz = B.u(m, 2, 2).toInt
      val dsz = B.u(m, 4, 2).toInt
      val ssz = B.u(m, 6, 2).toInt
      var p = 8
      var name: String = null
      var dt: Datatype = null
      var sp: Dataspace = null
      if (ver == 1) {
        name = new String(m, p, nsz, "UTF-8").takeWhile(_ != '\u0000')
        p += (nsz + 7) & ~7
        dt = datatype(m, p)
        p += (dsz + 7) & ~7
        sp = dataspace(m, p)
        p += (ssz + 7) & ~7
      } else {
        require(ver == 2 || ver == 3, s"hdf5 '$path': attribute message version $ver")
        require((m(1) & 0x3) == 0, s"hdf5 '$path': shared attribute datatype/dataspace")
        if (ver == 3) p += 1
        name = new String(m, p, nsz, "UTF-8").takeWhile(_ != '\u0000')
        p += nsz
        dt = datatype(m, p)
        p += dsz
        sp = dataspace(m, p)
        p += ssz
      }
      val n = sp.dims.product.toInt
      name -> decodeAttrValue(dt, m, p, n)
    }

    private def decodeAttrValue(dt: Datatype, m: Array[Byte], off: Int, n: Int): AV = {
      def order = dt.order
      def num(off: Int, size: Int): Long = {
        val raw = B.u(m, off, size)
        if (order == ">") java.lang.Long.reverseBytes(raw) >>> (64 - 8 * size) else raw
      }
      dt.cls match {
        case 3 if n <= 1 => AStr(new String(m, off, math.min(dt.size, m.length - off), "UTF-8")
          .takeWhile(_ != '\u0000'))
        case 3 => // fixed-size string ARRAY: one element per dataspace slot
          AStrs((0 until n).map { i =>
            val o = off + i * dt.size
            new String(m, o, math.min(dt.size, math.max(m.length - o, 0)), "UTF-8")
              .takeWhile(_ != '\u0000')
          }.toList)
        case 1 =>
          ADbl((0 until n).map { i =>
            val bits = num(off + i * dt.size, dt.size)
            if (dt.size == 4) java.lang.Float.intBitsToFloat(bits.toInt).toDouble
            else java.lang.Double.longBitsToDouble(bits)
          }.toList)
        case 0 =>
          AInt((0 until n).map { i =>
            val raw = num(off + i * dt.size, dt.size)
            if (dt.kind == "i" && dt.size < 8) // sign-extend
              (raw << (64 - 8 * dt.size)) >> (64 - 8 * dt.size)
            else raw
          }.toList)
        case 7 => AInt((0 until n).map(i => B.u(m, off + i * 8, 8)).toList)
        case 9 => // vlen: each element = count(4) + gheap collection(8) + index(4)
          val elems = (0 until n).map { i =>
            val p = off + i * 16
            val count = B.u(m, p, 4).toInt
            val coll = B.u(m, p + 4, 8)
            val idx = B.u(m, p + 12, 4).toInt
            (count, gheapObject(coll, idx))
          }
          if (dt.baseCls == 7)
            ARefs(elems.map { case (c, data) =>
              (0 until c).map(j => B.u(data, j * 8, 8)).toList
            }.toList)
          else if (dt.baseCls == 3)
            AStrs(elems.map { case (c, data) => new String(data, 0, c, "UTF-8") }.toList)
          else ASkip
        case _ => ASkip // compound (REFERENCE_LIST) and friends: bookkeeping only
      }
    }

    def dataspace(m: Array[Byte], off: Int): Dataspace = {
      val ver = m(off) & 0xff
      val rank = m(off + 1) & 0xff
      val flags = m(off + 2) & 0xff // bit 0: maxdims present (v1 and v2 alike)
      val p = ver match {
        case 1 => off + 8
        case 2 => off + 4
        case other => fail(path, s"dataspace version $other")
      }
      val dims = (0 until rank).map(i => B.u(m, p + 8 * i, 8))
      val unlimited =
        if ((flags & 1) == 0) Nil
        // H5S_UNLIMITED = all-ones, which the 8-byte read yields as -1
        else (0 until rank).map(i => B.u(m, p + 8 * rank + 8 * i, 8) == -1L)
      Dataspace(dims, unlimited)
    }

    def datatype(m: Array[Byte], off: Int): Datatype = {
      val cv = m(off) & 0xff
      val cls = cv & 0x0F
      val bits0 = m(off + 1) & 0xff
      val size = B.u(m, off + 4, 4).toInt
      val order = if ((bits0 & 1) != 0) ">" else "<"
      cls match {
        case 0 => Datatype(0, size, order, if ((bits0 & 0x08) != 0) "i" else "u")
        case 1 =>
          require((bits0 & 0x40) == 0, s"hdf5 '$path': VAX float unsupported")
          Datatype(1, size, order, "f")
        case 3 => Datatype(3, size, "|", "S")
        case 7 => Datatype(7, size, "<", "V")
        case 9 => Datatype(9, size, "<", "V", baseCls = m(off + 8) & 0x0F)
        case other => Datatype(other, size, "|", "V")
      }
    }

    def layoutOf(m: Array[Byte], rank: Int): Layout = {
      val ver = m(0) & 0xff
      require(ver == 3 || ver == 4, // v1/2 = pre-1.6 — absent from the corpus
        s"hdf5 '$path': data layout version $ver unsupported (v3/v4 only)")
      if (ver == 3) (m(1) & 0xff) match {
        case 0 => Compact(java.util.Arrays.copyOfRange(m, 4, 4 + B.u(m, 2, 2).toInt))
        case 1 => Contiguous(B.u(m, 2, 8), B.u(m, 10, 8))
        case 2 =>
          val dim = m(2) & 0xff // stored rank + 1 (trailing element-size entry)
          val btree = B.u(m, 3, 8)
          val dims = (0 until dim).map(i => B.u(m, 11 + 4 * i, 4))
          Chunked(btree, dims.dropRight(1), dims.last)
        case other => fail(path, s"data layout class $other")
      } else (m(1) & 0xff) match {
        // v4 (spec IV.A.2.i, version 4): compact/contiguous are bit-
        // identical to v3; chunked grew per-index-type config but kept the
        // v3 dimension convention — the dimensionality byte is rank + 1 and
        // the LAST entry is the datatype's element size (the C library
        // encodes the same u.chunk.ndims it uses for v3)
        case 0 => Compact(java.util.Arrays.copyOfRange(m, 4, 4 + B.u(m, 2, 2).toInt))
        case 1 => Contiguous(B.u(m, 2, 8), B.u(m, 10, 8))
        case 2 =>
          val flags  = m(2) & 0xff
          val dim    = m(3) & 0xff // stored rank + 1 (trailing element-size entry)
          val encLen = m(4) & 0xff // bytes per chunk-dimension field
          require(encLen >= 1 && encLen <= 8,
            s"hdf5 '$path': v4 chunk dimension encoding of $encLen bytes")
          require(dim >= 2, s"hdf5 '$path': v4 chunk dimensionality $dim (< rank+1)")
          val allDims = (0 until dim).map(i => B.u(m, 5 + encLen * i, encLen))
          val dims = allDims.dropRight(1) // trailing entry = element size
          var p = 5 + encLen * dim
          val idxType = m(p) & 0xff; p += 1
          idxType match {
            case 1 => // single chunk; filtered variant stores size + mask inline
              var fsize = -1L
              if ((flags & 0x02) != 0) {
                fsize = B.u(m, p, 8); p += 8
                val mask = B.u(m, p, 4); p += 4
                require(mask == 0,
                  s"hdf5 '$path': single-chunk filter mask 0x${mask.toHexString} unsupported")
              }
              ChunkedV4(1, B.u(m, p, 8), dims, fsize, allDims.last)
            case 2 => // implicit: early-allocated, unfiltered, C-order contiguous grid
              ChunkedV4(2, B.u(m, p, 8), dims, -1, allDims.last)
            case 3 => // fixed array: 1 config byte (max-bits), then FAHD address
              ChunkedV4(3, B.u(m, p + 1, 8), dims, -1, allDims.last)
            case 4 => // extensible array: 5 config bytes, then EAHD address
              ChunkedV4(4, B.u(m, p + 5, 8), dims, -1, allDims.last)
            case 5 => // v2 b-tree: node size(4) + split%(1) + merge%(1), then BTHD address
              ChunkedV4(5, B.u(m, p + 6, 8), dims, -1, allDims.last)
            case other => fail(path, s"v4 chunk index type $other")
          }
        case other => fail(path, s"v4 data layout class $other (virtual datasets refuse)")
      }
    }

    /** Filter pipeline → (filter id, client values) in write order. */
    def filters(m: Array[Byte]): List[(Int, List[Long])] = {
      val ver = m(0) & 0xff
      val n = m(1) & 0xff
      var p = if (ver == 1) 8 else 2
      (0 until n).map { _ =>
        val fid = B.u(m, p, 2).toInt
        var ncv = 0
        if (ver == 1 || fid >= 256) {
          val nlen = B.u(m, p + 2, 2).toInt
          ncv = B.u(m, p + 6, 2).toInt
          p += 8 + (if (ver == 1) (nlen + 7) & ~7 else nlen)
        } else {
          ncv = B.u(m, p + 4, 2).toInt
          p += 6
        }
        val cvals = (0 until ncv).map(i => B.u(m, p + 4 * i, 4)).toList
        p += 4 * ncv
        if (ver == 1 && ncv % 2 == 1) p += 4
        fid -> cvals
      }.toList
    }

    // -------------------------------------------------------- chunk b-tree

    /** v1 B-tree (node type 1) walk: one (gridKey, fileAddr, storedBytes)
      * per written chunk. Keys carry the chunk's coordinates in ELEMENTS;
      * the grid key is `offset[d] / chunkDims[d]` dotted, zarr-style. */
    def chunkRefs(btreeAddr: Long, chunkDims: Seq[Long]): Iterator[(String, Long, Long)] = {
      if (btreeAddr == UNDEF) return Iterator.empty
      val ndims = chunkDims.length
      val keySize = 8 + 8 * (ndims + 1)
      def walk(addr: Long): Iterator[(String, Long, Long)] = {
        require(r.sig(addr) == "TREE", s"hdf5 '$path': bad chunk b-tree node at $addr")
        val ntype = r.u8(addr + 4); val level = r.u8(addr + 5)
        val nent = r.u16(addr + 6)
        require(ntype == 1, s"hdf5 '$path': b-tree node type $ntype in chunk tree")
        val body = r.bytes(addr + 24, (keySize + 8) * nent)
        (0 until nent).iterator.flatMap { i =>
          val k = i * (keySize + 8)
          val child = B.u(body, k + keySize, 8)
          if (level > 0) walk(child)
          else {
            val storedBytes = B.u(body, k, 4)
            val mask = B.u(body, k + 4, 4)
            require(mask == 0,
              s"hdf5 '$path': per-chunk filter mask 0x${mask.toHexString} unsupported")
            val grid = (0 until ndims).map(d => B.u(body, k + 8 + 8 * d, 8) / chunkDims(d))
            val member = if (ndims == 0) "0" else grid.mkString(".")
            Iterator((member, child, storedBytes))
          }
        }
      }
      walk(btreeAddr)
    }

    // ---------------------------------------------------- v4 chunk indexes

    /** Chunk refs for a v4 (HDF5 1.10+ "latest format") layout. All five
      * index types resolve to the same (gridKey, fileAddr, storedBytes)
      * rows the v1 b-tree walk emits; grid keys come from the row-major
      * linear chunk index (single/implicit/fixed array) or from the
      * record's scaled offsets (v2 b-tree). Unwritten chunks (undefined
      * addresses, uninitialized fixed-array pages) stay absent — fill. */
    def chunkRefsV4(c: ChunkedV4, shape: Seq[Long], elemSize: Int,
                    dsPath: String): Iterator[(String, Long, Long)] = {
      require(c.elemSizeEntry == elemSize.toLong,
        s"hdf5 '$path': $dsPath v4 layout trailing dim ${c.elemSizeEntry} != datatype size $elemSize")
      val cd = c.chunkDims
      val gridDims = shape.zip(cd).map { case (s, ch) => (s + ch - 1) / ch }
      val nchunks = gridDims.product
      val chunkBytes = cd.product * elemSize
      def memberOf(linear: Long): String = {
        var rem = linear
        val coords = new Array[Long](cd.length)
        var d = cd.length - 1
        while (d >= 0) { coords(d) = rem % gridDims(d); rem /= gridDims(d); d -= 1 }
        coords.mkString(".")
      }
      c.indexType match {
        case 1 => // single chunk covering the whole dataset
          if (c.addr == UNDEF) Iterator.empty
          else {
            val size = if (c.singleFilteredSize >= 0) c.singleFilteredSize else chunkBytes
            Iterator((Seq.fill(math.max(cd.length, 1))("0").mkString("."), c.addr, size))
          }
        case 2 => // implicit: unfiltered, every chunk at addr + i * chunkBytes
          if (c.addr == UNDEF) Iterator.empty
          else (0L until nchunks).iterator
            .map(i => (memberOf(i), c.addr + i * chunkBytes, chunkBytes))
        case 3 => fixedArrayRefs(c.addr, memberOf _, chunkBytes, dsPath)
        case 4 => extensibleArrayRefs(c.addr, memberOf _, chunkBytes, dsPath)
        case 5 => // v2 b-tree, record type 10 (plain) / 11 (filtered)
          if (c.addr == UNDEF) Iterator.empty
          else {
            val (rt, recs) = btree2Records(c.addr)
            rt match {
              case 10 => recs.iterator.map { rec =>
                val addr = B.u(rec, 0, 8)
                val scaled = (0 until cd.length).map(d => B.u(rec, 8 + 8 * d, 8))
                (scaled.mkString("."), addr, chunkBytes)
              }
              case 11 => recs.iterator.map { rec =>
                // addr(8) + chunk size(recSize − 8 − 4 − 8·rank) + mask(4)
                // + scaled offsets(8 each) — H5D b-tree2 filtered record
                val szBytes = rec.length - 8 - 4 - 8 * cd.length
                require(szBytes >= 1 && szBytes <= 8,
                  s"hdf5 '$path': $dsPath filtered chunk record size ${rec.length}")
                val addr = B.u(rec, 0, 8)
                val size = B.u(rec, 8, szBytes)
                val mask = B.u(rec, 8 + szBytes, 4)
                require(mask == 0,
                  s"hdf5 '$path': $dsPath per-chunk filter mask 0x${mask.toHexString} unsupported")
                val scaled = (0 until cd.length).map(d => B.u(rec, 12 + szBytes + 8 * d, 8))
                (scaled.mkString("."), addr, size)
              }
              case other => fail(path, s"$dsPath chunk b-tree record type $other")
            }
          }
        case other => fail(path, s"$dsPath v4 chunk index type $other")
      }
    }

    /** Fixed array (`FAHD`/`FADB`, spec III.G): a flat dense array of one
      * entry per chunk-grid cell, used when no dimension is unlimited.
      * Client 0 entries are a bare chunk address; client 1 adds the stored
      * (filtered) size and a filter mask. Large arrays page: the data
      * block then holds a page bitmap (LSB-first; clear = page never
      * written → every chunk in it is fill) and the pages follow it, each
      * trailed by its own 4-byte checksum. */
    private def fixedArrayRefs(hdrAddr: Long, memberOf: Long => String,
                               chunkBytes: Long, dsPath: String): Iterator[(String, Long, Long)] = {
      if (hdrAddr == UNDEF) return Iterator.empty
      require(r.sig(hdrAddr) == "FAHD", s"hdf5 '$path': bad fixed array header at $hdrAddr")
      val clientId  = r.u8(hdrAddr + 5)
      val entrySize = r.u8(hdrAddr + 6)
      val pageBits  = r.u8(hdrAddr + 7)
      val nelmts    = r.u64(hdrAddr + 8)
      val dbAddr    = r.u64(hdrAddr + 16)
      require(clientId == 0 || clientId == 1,
        s"hdf5 '$path': $dsPath fixed array client id $clientId")
      if (dbAddr == UNDEF || nelmts == 0) return Iterator.empty
      require(r.sig(dbAddr) == "FADB", s"hdf5 '$path': bad fixed array data block at $dbAddr")
      val elemsAt = dbAddr + 14 // sig(4) + version(1) + client(1) + header addr(8)
      val pageN = 1L << pageBits
      def decode(idx: Long, e: Array[Byte]): Option[(String, Long, Long)] = {
        val addr = B.u(e, 0, 8)
        if (addr == UNDEF) None
        else if (clientId == 0) Some((memberOf(idx), addr, chunkBytes))
        else {
          val szBytes = entrySize - 8 - 4
          require(szBytes >= 1 && szBytes <= 8,
            s"hdf5 '$path': $dsPath fixed array entry size $entrySize")
          val size = B.u(e, 8, szBytes)
          val mask = B.u(e, 8 + szBytes, 4)
          require(mask == 0,
            s"hdf5 '$path': $dsPath per-chunk filter mask 0x${mask.toHexString} unsupported")
          Some((memberOf(idx), addr, size))
        }
      }
      if (nelmts <= pageN) {
        val block = r.bytes(elemsAt, (nelmts * entrySize).toInt)
        (0L until nelmts).iterator.flatMap { i =>
          decode(i, java.util.Arrays.copyOfRange(block,
            (i * entrySize).toInt, ((i + 1) * entrySize).toInt))
        }
      } else {
        val npages = (nelmts + pageN - 1) / pageN
        val bitmapBytes = ((npages + 7) / 8).toInt
        val bitmap = r.bytes(elemsAt, bitmapBytes)
        val pagesAt = elemsAt + bitmapBytes + 4 // block's own checksum sits before the pages
        (0L until npages).iterator.flatMap { pg =>
          if (((bitmap((pg / 8).toInt) >> (pg % 8).toInt) & 1) == 0) Iterator.empty
          else {
            val count = math.min(pageN, nelmts - pg * pageN)
            val pageAddr = pagesAt + pg * (pageN * entrySize + 4)
            val block = r.bytes(pageAddr, (count * entrySize).toInt)
            (0L until count).iterator.flatMap { i =>
              decode(pg * pageN + i, java.util.Arrays.copyOfRange(block,
                (i * entrySize).toInt, ((i + 1) * entrySize).toInt))
            }
          }
        }
      }
    }

    /** Extensible array (`EAHD`/`EAIB`/`EASB`/`EADB`, spec III.F): the
      * index for datasets with an unlimited dimension — what a netCDF-4
      * "latest format" record variable uses. Geometry follows the public
      * H5EA derivation: super block u holds 2^(u/2) data blocks of
      * 2^((u+1)/2)·minElmts elements; the first `idxElmts` array elements
      * live inline in the index block, the first 2·(minPtrs−1) data
      * blocks are addressed from the index block directly, and later
      * super blocks are addressed from the index block's super-block
      * list. Paged data blocks (dblk elements > 2^pageBits) refuse
      * loudly — a boundary, not a wrong answer. */
    private def extensibleArrayRefs(hdrAddr: Long, memberOf: Long => String,
                                    chunkBytes: Long, dsPath: String): Iterator[(String, Long, Long)] = {
      if (hdrAddr == UNDEF) return Iterator.empty
      require(r.sig(hdrAddr) == "EAHD", s"hdf5 '$path': bad extensible array header at $hdrAddr")
      val clientId  = r.u8(hdrAddr + 5)
      val elemSize  = r.u8(hdrAddr + 6)
      val maxBits   = r.u8(hdrAddr + 7)
      val idxElmts  = r.u8(hdrAddr + 8)
      val minElmts  = r.u8(hdrAddr + 9)
      val minPtrs   = r.u8(hdrAddr + 10)
      val pageBits  = r.u8(hdrAddr + 11)
      val maxIdxSet = r.u64(hdrAddr + 12 + 4 * 8) // after nsecblks/secblksize/ndblks/dblksize
      val iblkAddr  = r.u64(hdrAddr + 12 + 6 * 8) // after max idx set + nelmts realized
      require(clientId == 0 || clientId == 1,
        s"hdf5 '$path': $dsPath extensible array client id $clientId")
      if (iblkAddr == UNDEF || maxIdxSet == 0) return Iterator.empty
      require(r.sig(iblkAddr) == "EAIB", s"hdf5 '$path': bad extensible array index block at $iblkAddr")
      def log2(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)
      // offsets inside blocks are stored in ceil(maxBits/8)-byte fields
      val arrOffSize = (maxBits + 7) / 8
      val nsblks = 1 + maxBits - log2(minElmts.toLong)
      val sblkFirstInIdx = 2 * log2(minPtrs.toLong) // super blocks whose dblks the index block points to
      val idxNdblkAddrs = 2 * (minPtrs - 1)
      // per super block u: ndblks, dblk_nelmts, start element idx, start dblk
      case class SblkInfo(ndblks: Long, dblkNelmts: Long, startIdx: Long, startDblk: Long)
      val sblkInfo = {
        var si = 0L; var sd = 0L
        (0 until nsblks).map { u =>
          val nd = 1L << (u / 2)
          val dn = (1L << ((u + 1) / 2)) * minElmts
          val info = SblkInfo(nd, dn, si, sd)
          si += nd * dn; sd += nd
          info
        }
      }
      def decode(idx: Long, e: Array[Byte]): Option[(String, Long, Long)] = {
        val addr = B.u(e, 0, 8)
        if (addr == UNDEF) None
        else if (clientId == 0) Some((memberOf(idx), addr, chunkBytes))
        else {
          val szBytes = elemSize - 8 - 4
          require(szBytes >= 1 && szBytes <= 8,
            s"hdf5 '$path': $dsPath extensible array element size $elemSize")
          val size = B.u(e, 8, szBytes)
          val mask = B.u(e, 8 + szBytes, 4)
          require(mask == 0,
            s"hdf5 '$path': $dsPath per-chunk filter mask 0x${mask.toHexString} unsupported")
          Some((memberOf(idx), addr, size))
        }
      }
      // index block layout: sig(4) ver(1) client(1) hdr(8), then inline
      // elements, then direct data block addrs, then super block addrs
      val inlineAt = iblkAddr + 14
      val dblkAddrsAt = inlineAt + idxElmts.toLong * elemSize
      val sblkAddrsAt = dblkAddrsAt + idxNdblkAddrs.toLong * 8
      /** Elements of one (unpaged) data block, skipping unset addresses. */
      def dataBlockElems(dbAddr: Long, startIdx: Long, n: Long): Iterator[(String, Long, Long)] = {
        if (dbAddr == UNDEF) return Iterator.empty
        require(r.sig(dbAddr) == "EADB", s"hdf5 '$path': bad extensible array data block at $dbAddr")
        require(n <= (1L << pageBits),
          s"hdf5 '$path': $dsPath paged extensible-array data block ($n elements > 2^$pageBits) unsupported")
        val at = dbAddr + 14 + arrOffSize // sig+ver+client+hdr, then block offset
        val count = math.min(n, math.max(0L, maxIdxSet - startIdx))
        if (count <= 0) return Iterator.empty
        val block = r.bytes(at, (count * elemSize).toInt)
        (0L until count).iterator.flatMap { i =>
          decode(startIdx + i, java.util.Arrays.copyOfRange(block,
            (i * elemSize).toInt, ((i + 1) * elemSize).toInt))
        }
      }
      // inline elements cover array indexes [0, idxElmts)
      val inlineCount = math.min(idxElmts.toLong, maxIdxSet)
      val inline = {
        val block = r.bytes(inlineAt, (inlineCount * elemSize).toInt)
        (0L until inlineCount).iterator.flatMap { i =>
          decode(i, java.util.Arrays.copyOfRange(block,
            (i * elemSize).toInt, ((i + 1) * elemSize).toInt))
        }
      }
      // data blocks pointed to straight from the index block: the first
      // idxNdblkAddrs blocks, i.e. super blocks [0, sblkFirstInIdx)
      val direct = (0 until math.min(sblkFirstInIdx, nsblks)).iterator.flatMap { u =>
        val info = sblkInfo(u)
        (0L until info.ndblks).iterator.flatMap { d =>
          val slot = info.startDblk + d
          val dbAddr = r.u64(dblkAddrsAt + slot * 8)
          dataBlockElems(dbAddr, idxElmts + info.startIdx + d * info.dblkNelmts, info.dblkNelmts)
        }
      }
      // super blocks: sig(4) ver(1) client(1) hdr(8) + block offset, then
      // data block addresses (paged data blocks would add a page bitmap
      // here — covered by the dataBlockElems refusal above)
      val viaSuper = (sblkFirstInIdx until nsblks).iterator.flatMap { u =>
        val sbAddr = r.u64(sblkAddrsAt + (u - sblkFirstInIdx).toLong * 8)
        if (sbAddr == UNDEF) Iterator.empty
        else {
          require(r.sig(sbAddr) == "EASB", s"hdf5 '$path': bad extensible array super block at $sbAddr")
          val info = sblkInfo(u)
          require(info.dblkNelmts <= (1L << pageBits),
            s"hdf5 '$path': $dsPath paged extensible-array super block (dblk ${info.dblkNelmts} > 2^$pageBits) unsupported")
          val addrsAt = sbAddr + 14 + arrOffSize
          (0L until info.ndblks).iterator.flatMap { d =>
            val dbAddr = r.u64(addrsAt + d * 8)
            dataBlockElems(dbAddr, idxElmts + info.startIdx + d * info.dblkNelmts, info.dblkNelmts)
          }
        }
      }
      inline ++ direct ++ viaSuper
    }
  }

  private def minBytes(v: Long): Int = {
    var n = 0; var x = v
    while (x > 0) { x >>>= 8; n += 1 }
    math.max(n, 1)
  }

  // --------------------------------------------------------------- semantics

  /** netCDF-4 bookkeeping attributes hidden from the synthesized `.zattrs`
    * (the public dimension-scale convention; kerchunk hides the same set). */
  private val HiddenAttrs = Set("CLASS", "NAME", "REFERENCE_LIST", "DIMENSION_LIST",
    "_Netcdf4Dimid", "_Netcdf4Coordinates", "_NCProperties", "_SuperblockVersion",
    "_IsNetcdf4")

  private def jsonOfAv(v: AV): org.json4s.JValue = {
    import org.json4s._
    def one(xs: List[JValue]): JValue = if (xs.length == 1) xs.head else JArray(xs)
    v match {
      case AStr(s)   => JString(s)
      case AStrs(xs) => one(xs.map(JString(_)))
      case AInt(xs)  => one(xs.map(JLong(_)))
      case ADbl(xs)  => one(xs.map(d =>
        if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)))
      case _ => JNothing
    }
  }

  /** Driver-visible structural description of one variable. */
  private final case class VarInfo(
      pathKey: String,                          // "grp/var" entry prefix
      shape: Seq[Long], chunks: Seq[Long],
      dtype: String, zattrs: String,
      compressor: org.json4s.JValue, zfilters: org.json4s.JValue,
      data: VarData)
  private sealed trait VarData
  private final case class RefChunks(refs: List[(String, Long, Long)]) extends VarData
  private final case class InlineChunk(member: String, data: Array[Byte]) extends VarData

  /** One unresolved external link: the alias path in THIS file, the target
    * file name (as stored — possibly relative), and the target object
    * path. Resolution happens in `readMany`, which can open other files. */
  private final case class ExtRef(aliasKey: String, file: String, objPath: String)

  /** Parse one HDF5 file's structure into per-variable infos + group attrs
    * + unresolved external links + the set of all object paths (datasets
    * AND groups — the external-link resolver needs to tell an existing
    * empty group from a missing target).
    * Runs inside one executor task; everything here is metadata-sized. */
  private def parseFile(r: Reader, path: String)
      : (List[(String, String)], List[VarInfo], List[ExtRef], Set[String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, render}
    val P = new Parser(r, path)

    // pass 1: walk the group tree, collecting datasets and group attrs
    final case class RawDs(pathKey: String, ms: List[Msg], alias: Boolean = false)
    val groupAttrs = List.newBuilder[(String, String)] // (entry-dir, zattrs json)
    val datasets = List.newBuilder[RawDs]
    val nameOf = scala.collection.mutable.LinkedHashMap.empty[Long, String] // ohdr → basename
    def renderAttrs(attrs: List[(String, AV)], dims: Seq[String]): Option[String] = {
      val fields = attrs.collect {
        case (k, v) if !HiddenAttrs.contains(k) && jsonOfAv(v) != JNothing =>
          JField(k, jsonOfAv(v))
      }
      val withDims =
        if (dims.isEmpty) fields
        else fields :+ JField("_ARRAY_DIMENSIONS", JArray(dims.map(JString(_)).toList))
      if (withDims.isEmpty) None else Some(compact(render(JObject(withDims))))
    }
    val visited = scala.collection.mutable.Set.empty[Long]
    val pathToAddr = scala.collection.mutable.HashMap.empty[String, Long]
    // (group key, link name, target path) — resolved after the hard walk
    val softLinks = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    // external links — resolved by the caller, which can open other files
    val extLinks = scala.collection.mutable.ArrayBuffer.empty[ExtRef]
    def keyed(prefix: String, nm: String): String =
      if (prefix.isEmpty) nm else s"$prefix/$nm"
    def visit(prefix: String, name: String, addr: Long): Unit = {
      // netCDF-4 never multi-hard-links an object; a revisited header
      // address is a hard-link cycle — refuse loudly rather than recurse
      // forever (soft-link aliases resolve separately below)
      require(visited.add(addr),
        s"hdf5 '$path': object header at $addr reached twice (link cycle?)")
      val ms = P.messages(addr)
      val key = if (prefix.isEmpty) name else s"$prefix/$name"
      pathToAddr(key) = addr
      if (ms.exists(_.mtype == 0x08)) {
        nameOf(addr) = name
        datasets += RawDs(key, ms)
      } else {
        val links = P.groupLinks(ms)
        renderAttrs(P.attributes(ms), Nil).foreach(j => groupAttrs += (key -> j))
        links.foreach {
          case HardLink(nm, oh)        => visit(key, nm, oh)
          case SoftLink(nm, target)    => softLinks += ((key, nm, target))
          case ExternalLink(nm, f, op) => extLinks += ExtRef(keyed(key, nm), f, op)
        }
      }
    }
    val rootMs = P.messages(P.rootHeaderAddr)
    val rootAttrList = P.attributes(rootMs) // rendered after pass 2 (record dims)
    P.groupLinks(rootMs).foreach {
      case HardLink(nm, oh)        => visit("", nm, oh)
      case SoftLink(nm, target)    => softLinks += (("", nm, target))
      case ExternalLink(nm, f, op) => extLinks += ExtRef(nm, f, op)
    }

    // soft-link resolution (spec IV.A.2.g / h5py semantics): a soft link
    // surfaces its TARGET object under the link's own path. Targets are
    // in-file paths, absolute ('/a/b') or relative to the link's group;
    // '.'/'..' components refuse (not observed in real writers). Chains
    // (soft → soft) resolve iteratively: each resolved alias registers its
    // path, so the next round can resolve links pointing at it; a round
    // with pending links but no progress is a cycle or a dangling target —
    // refused loudly, never silently dropped.
    if (softLinks.nonEmpty) {
      def normalize(groupKey: String, target: String): String = {
        require(target.nonEmpty, s"hdf5 '$path': empty soft-link target")
        val parts = target.split("/").filter(_.nonEmpty).toList
        require(parts.forall(p => p != "." && p != ".."),
          s"hdf5 '$path': soft-link target '$target' uses ./.. components")
        val base =
          if (target.startsWith("/") || groupKey.isEmpty) Nil
          else groupKey.split("/").toList
        (base ++ parts).mkString("/")
      }
      // alias-visit: emit the target (and, for a group, its subtree) under
      // the alias path. The per-traversal stack refuses true cycles while
      // allowing the cross-traversal revisit an alias IS.
      def aliasVisit(key: String, addr: Long, stack: Set[Long]): Unit = {
        require(!stack.contains(addr),
          s"hdf5 '$path': soft-link alias cycle through header $addr")
        val ms = P.messages(addr)
        pathToAddr(key) = addr // alias children are addressable targets too
        if (ms.exists(_.mtype == 0x08)) {
          nameOf.getOrElseUpdate(addr, key.split("/").last)
          datasets += RawDs(key, ms, alias = true)
        } else {
          renderAttrs(P.attributes(ms), Nil).foreach(j => groupAttrs += (key -> j))
          P.groupLinks(ms).foreach {
            case HardLink(nm, oh) => aliasVisit(s"$key/$nm", oh, stack + addr)
            case SoftLink(nm, _) => fail(path,
              s"soft link '$nm' inside the aliased subtree '$key' (nested soft links)")
            case ExternalLink(nm, f, op) => extLinks += ExtRef(s"$key/$nm", f, op)
          }
        }
      }
      var pending = softLinks.toList
      var progress = true
      while (pending.nonEmpty && progress) {
        val (ready, blocked) = pending.partition { case (g, _, t) =>
          pathToAddr.contains(normalize(g, t)) }
        progress = ready.nonEmpty
        ready.foreach { case (g, nm, t) =>
          val addr = pathToAddr(normalize(g, t))
          val aliasKey = if (g.isEmpty) nm else s"$g/$nm"
          aliasVisit(aliasKey, addr, Set.empty)
          pathToAddr(aliasKey) = addr
        }
        pending = blocked
      }
      require(pending.isEmpty,
        s"hdf5 '$path': unresolvable soft links (dangling target or soft-link cycle): " +
          pending.map { case (g, nm, t) => s"'${if (g.isEmpty) nm else s"$g/$nm"}' -> '$t'" }
            .mkString(", "))
    }

    // pass 2: per dataset, geometry + filters + dimension names + chunk refs
    val recordDims = List.newBuilder[String] // UNLIMITED dimension-scale names
    val vars = datasets.result().map { ds =>
      val spMsg = ds.ms.find(_.mtype == 0x01).getOrElse(
        throw new IllegalArgumentException(s"hdf5 '$path': dataset ${ds.pathKey} has no dataspace"))
      val dtMsg = ds.ms.find(_.mtype == 0x03).get
      val loMsg = ds.ms.find(_.mtype == 0x08).get
      val sp = P.dataspace(spMsg.body, 0)
      val dt = P.datatype(dtMsg.body, 0)
      val attrs = P.attributes(ds.ms)
      val rank = sp.dims.length
      val layout = P.layoutOf(loMsg.body, rank)
      val pipeline = ds.ms.find(_.mtype == 0x0B).map(m => P.filters(m.body)).getOrElse(Nil)

      // scalar datasets normalize to shape [1] like the netCDF3 plane
      val shape: Seq[Long] = if (sp.dims.isEmpty) Seq(1L) else sp.dims
      val chunks: Seq[Long] = layout match {
        case Chunked(_, cd, _)       => cd
        case ChunkedV4(_, _, cd, _, _) => cd
        case _                       => shape
      }

      // HDF5 write order: [shuffle, ...] then deflate last → zarr decode
      // order: compressor zlib inverts first, then the shuffle filter
      var compressor: JValue = JNull
      val zfilterList = List.newBuilder[JValue]
      pipeline.zipWithIndex.foreach { case ((fid, cvals), i) =>
        fid match {
          case 1 =>
            require(i == pipeline.length - 1,
              s"hdf5 '$path': ${ds.pathKey} deflate at a non-final pipeline position")
            compressor = JObject(List(JField("id", JString("zlib")),
              JField("level", JLong(cvals.headOption.getOrElse(6L)))))
          case 2 =>
            zfilterList += JObject(List(JField("id", JString("shuffle")),
              JField("elementsize", JLong(cvals.headOption.getOrElse(dt.size.toLong)))))
          case 3 =>
            // fletcher32: netCDF-4 writers place it FIRST in the pipeline
            // (checksum of the raw data, then shuffle/deflate) — the zarr
            // filter list mirrors pipeline order, so the plane's reverse
            // inversion verifies it last, exactly right
            zfilterList += JObject(List(JField("id", JString("fletcher32"))))
          case other => fail(path,
            s"dataset ${ds.pathKey} uses HDF5 filter id $other " +
              "(only deflate/shuffle/fletcher32 decode)")
        }
      }
      val zfilters = zfilterList.result() match {
        case Nil => JNull
        case xs  => JArray(xs)
      }

      // dimension names: DIMENSION_LIST refs, else a 1-D dimension scale is
      // its own coordinate, else positional fallback downstream
      val attrMap = attrs.toMap
      val isScale = attrMap.get("CLASS").exists { case AStr(s) => s == "DIMENSION_SCALE"; case _ => false }
      // an UNLIMITED dimension scale is the file's record dimension — the
      // axis multi-file (glob) opens concatenate along
      // only the CANONICAL (hard-linked) visit registers the record
      // dimension: a soft-link alias of an unlimited scale is the same
      // physical axis, not a second one
      if (isScale && rank == 1 && sp.unlimited.headOption.contains(true) && !ds.alias)
        recordDims += ds.pathKey.split('/').last
      val dims: Seq[String] = attrMap.get("DIMENSION_LIST") match {
        case Some(ARefs(refs)) =>
          refs.map(_.headOption.flatMap(nameOf.get).getOrElse("")) match {
            case ns if ns.forall(_.nonEmpty) && ns.length == rank => ns
            case _ => Nil
          }
        case _ =>
          if (isScale && rank == 1) Seq(ds.pathKey.split('/').last)
          else if (sp.dims.isEmpty) Seq(ds.pathKey.split('/').last) // scalar, netCDF3 parity
          else Nil
      }

      val dtype = dt.kind match {
        case "S"       => s"|S${dt.size}"
        case "V"       => s"|V${dt.size}"
        case k         => s"${dt.order}$k${dt.size}"
      }
      // never empty when `dims` names a dimension
      val zattrs = renderAttrs(attrs, dims).getOrElse("{}")

      val data: VarData = layout match {
        case Compact(bytes) =>
          InlineChunk(Seq.fill(math.max(chunks.length, 1))("0").mkString("."), bytes)
        case Contiguous(addr, _) =>
          if (addr == UNDEF) RefChunks(Nil) // never written: all fill
          else {
            val member = Seq.fill(math.max(chunks.length, 1))("0").mkString(".")
            RefChunks(List((member, addr, shape.product * dt.size)))
          }
        case Chunked(btree, cd, _) =>
          RefChunks(P.chunkRefs(btree, cd).toList)
        case c: ChunkedV4 =>
          RefChunks(P.chunkRefsV4(c, shape, dt.size, ds.pathKey).toList)
      }
      VarInfo(ds.pathKey, shape, chunks, dtype, zattrs, compressor, zfilters, data)
    }

    // root .zattrs last: global attrs + `_graft_unlimited_dims` (the record
    // dimensions pass 2 discovered), mirroring the netCDF3 plane's marker
    val rootJson = {
      val fields = rootAttrList.collect {
        case (k, v) if !HiddenAttrs.contains(k) && jsonOfAv(v) != JNothing =>
          JField(k, jsonOfAv(v))
      } ++ (recordDims.result() match {
        case Nil => Nil
        case rs  => List(JField("_graft_unlimited_dims", JArray(rs.map(JString(_)))))
      })
      if (fields.isEmpty) None else Some(compact(render(JObject(fields))))
    }
    (rootJson.map("" -> _).toList ++ groupAttrs.result(), vars, extLinks.toList,
      pathToAddr.keySet.toSet)
  }

  /** Resolve one file's external links (h5py semantics, one level deep):
    * parse each DISTINCT target file once and surface every linked object
    * (dataset or group subtree) under its link's path, with chunk refs
    * carrying the TARGET file's url — the kerchunk-shaped row model
    * already spans files. Relative target file names resolve against the
    * linking file's directory (the H5L default). An existing but empty,
    * attribute-less target group resolves to nothing (there is nothing to
    * surface). Refused loudly: a missing target file or object, an
    * external link inside the resolved target subtree (chained cross-file
    * hops), and links out of tar members (`sourceUrl` is the ORIGINAL
    * url: a member's links would resolve against the archive's directory,
    * not the member's). The target file's own root attrs and
    * unlimited-dimension markers stay in the target — only the linked
    * subtree surfaces. */
  private def resolveExternals(
      externals: List[ExtRef], sourceUrl: String, linkingUrl: String,
      hconf: org.apache.hadoop.conf.Configuration): Iterator[Entries.Entry] = {
    if (externals.isEmpty) return Iterator.empty
    require(!TarMember.isTarUrl(sourceUrl),
      s"hdf5 '$sourceUrl': external link '${externals.head.aliasKey}' from a tar member")
    val byTarget = externals.groupBy { e =>
      if (e.file.startsWith("/") || e.file.contains("://")) e.file
      else new org.apache.hadoop.fs.Path(
        FsPaths.hadoopPath(linkingUrl).getParent, e.file).toString
    }
    byTarget.iterator.flatMap { case (tgtUrl, refs) =>
      val tgtHPath = FsPaths.hadoopPath(tgtUrl)
      val tfs = FsPaths.fileSystemFor(tgtHPath, hconf)
      require(tfs.exists(tgtHPath),
        s"hdf5 '$linkingUrl': external link '${refs.head.aliasKey}' target file " +
          s"'${refs.head.file}' not found at '$tgtUrl'")
      val tin = tfs.open(tgtHPath)
      val (tAttrs, tVars, tExt, tKeys) =
        try parseFile(new Reader(tin, tgtUrl, 0L), tgtUrl)
        finally tin.close()
      refs.iterator.flatMap { case ExtRef(aliasKey, _, objPath) =>
        val parts = objPath.split("/").filter(_.nonEmpty).toList
        require(parts.nonEmpty && parts.forall(p => p != "." && p != ".."),
          s"hdf5 '$linkingUrl': external link '$aliasKey' target object '$objPath'")
        val obj = parts.mkString("/")
        def inSubtree(k: String): Boolean = k == obj || k.startsWith(obj + "/")
        tExt.foreach { e =>
          require(!inSubtree(e.aliasKey),
            s"hdf5 '$linkingUrl': external link '${e.aliasKey}' inside the external " +
              s"target '/$obj' of '$aliasKey' (chained cross-file links)")
        }
        val vSel = tVars.filter(v => inSubtree(v.pathKey))
        val aSel = tAttrs.filter { case (d, _) => inSubtree(d) }
        require(vSel.nonEmpty || aSel.nonEmpty || tKeys.contains(obj),
          s"hdf5 '$linkingUrl': external link '$aliasKey' target object '/$obj' " +
            s"not found in '$tgtUrl'")
        def rebase(k: String): String = aliasKey + k.stripPrefix(obj)
        entriesOf(aSel.map { case (d, j) => (rebase(d), j) },
          vSel.map(v => v.copy(pathKey = rebase(v.pathKey))), tgtUrl, 0L,
          includeRoot = false)
      }
    }
  }

  // -------------------------------------------------------------- public API

  /** One HDF5/netCDF-4 file → kerchunk-shaped entry rows (the
    * [[KerchunkIndex.read]] schema): `.zgroup`/`.zarray`/`.zattrs` meta
    * entries plus one `ref` row per written HDF5 chunk (or one inline row
    * for compact-layout data). Runs as ONE Spark task — the structure is
    * metadata-sized — while the chunk DATA reads happen downstream in
    * [[KerchunkIndex.materializeChunks]]'s offset-banded distributed plan. */
  def read(spark: SparkSession, path: String,
           storageOptions: Map[String, String] = Map.empty): DataFrame =
    readMany(spark, Seq(path), storageOptions)

  /** Collection-scale variant: one distributed job parses MANY files'
    * structures (one task per file, up to the session's parallelism) —
    * the shape a thousand-asset catalog group or a corpus sweep wants,
    * instead of one single-row Spark job per file. Entry keys stay
    * FILE-relative (refs carry their url; meta rows do not), so drive the
    * downstream decode per file — the concatenated frame is for
    * inventory/sweep use. */
  def readMany(spark: SparkSession, paths: Seq[String],
               storageOptions: Map[String, String] = Map.empty): DataFrame =
    // tar members parse at their base offset (addresses are
    // superblock-relative); refs point into the archive itself
    Entries.perFile(spark, paths, storageOptions) { at =>
      val in = at.fs.open(at.hPath)
      val (groupAttrs, vars, externals, _) =
        try parseFile(new Reader(in, at.path, at.base), at.path)
        finally in.close()
      entriesOf(groupAttrs, vars, at.real, at.base) ++
        resolveExternals(externals, at.path, at.real, at.conf)
    }

  private def entriesOf(groupAttrs: List[(String, String)], vars: List[VarInfo], url: String,
                        base: Long, includeRoot: Boolean = true): Iterator[Entries.Entry] = {
    val group = if (includeRoot) Iterator(Entries.group) else Iterator.empty
    val gattrs = groupAttrs.iterator.map { case (dir, za) =>
      Entries.meta(Entries.keyIn(dir, ".zattrs"), za)
    }
    val perVar = vars.iterator.flatMap { v =>
      val meta = Entries.array(v.pathKey,
        Entries.zarray(v.dtype, v.shape, v.chunks, v.compressor, v.zfilters), v.zattrs)
      val data = v.data match {
        case InlineChunk(member, bytes) =>
          Iterator(Entries.inline(s"${v.pathKey}/$member",
            "base64:" + java.util.Base64.getEncoder.encodeToString(bytes)))
        case RefChunks(refs) =>
          refs.iterator.map { case (member, addr, size) =>
            Entries.ref(s"${v.pathKey}/$member", url, Some(base + addr), Some(size))
          }
      }
      meta ++ data
    }
    group ++ gattrs ++ perVar
  }
}
