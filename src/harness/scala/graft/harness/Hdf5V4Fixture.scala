package graft.harness

/** Hand-encoded HDF5 data-layout-v4 fixtures, written field by field
  * from the public HDF5 File Format Specification v3.0 (III.F extensible
  * arrays, III.G fixed arrays, III.A.2 v2 b-trees, IV.A.2.i layout v4).
  * Lives in the harness package (like [[Dap2Fixture]]) so both the spec
  * suite and the correctness-gate query can build the same bytes. */
object Hdf5V4Fixture {
  private val UNDEF = -1L

  final class Sink {
    private val buf = new java.io.ByteArrayOutputStream()
    def pos: Long = buf.size().toLong
    def u8(v: Int): Unit = buf.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >>> 8) }
    def u32(v: Long): Unit = { u16(v.toInt); u16((v >>> 16).toInt) }
    def u64(v: Long): Unit = { u32(v); u32(v >>> 32) }
    def lit(s: String): Unit = buf.write(s.getBytes("US-ASCII"))
    def bytes(bs: Array[Byte]): Unit = buf.write(bs)
    def zeros(n: Int): Unit = (0 until n).foreach(_ => u8(0))
    def result(): Array[Byte] = buf.toByteArray
  }

  /** int32 little-endian payload for `vals`. */
  def i32(vals: Int*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * vals.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putInt); bb.array()
  }

  /** zlib-deflate (HDF5 filter id 1 stores a raw zlib stream). */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end(); out.toByteArray
  }

  // ---------------------------------------------------------- messages

  /** v2 object header: OHDR + version + flags=0 (no times, 1-byte size of
    * chunk 0) + messages + zeroed checksum (the parser never verifies
    * lookup3 checksums — real files carry them, fixtures write 0). */
  def ohdr(s: Sink, msgs: Seq[(Int, Array[Byte])]): Long = {
    val at = s.pos
    val size0 = msgs.map { case (_, b) => 4 + b.length }.sum
    require(size0 <= 255, s"ohdr chunk 0 of $size0 bytes needs bigger size field")
    s.lit("OHDR"); s.u8(2); s.u8(0); s.u8(size0)
    msgs.foreach { case (t, b) => s.u8(t); s.u16(b.length); s.u8(0); s.bytes(b) }
    s.u32(0) // checksum
    at
  }

  /** Dataspace message v2: version, rank, flags(bit0 = maxdims), type. */
  def dataspace2(dims: Seq[Long], maxDims: Seq[Long] = Nil): Array[Byte] = {
    val s = new Sink
    s.u8(2); s.u8(dims.length); s.u8(if (maxDims.nonEmpty) 1 else 0); s.u8(1)
    dims.foreach(s.u64); maxDims.foreach(s.u64)
    s.result()
  }

  /** Datatype message: fixed-point class 0, v1, little-endian, signed, 4
    * bytes (bit offset 0, precision 32). */
  val dtInt32: Array[Byte] = {
    val s = new Sink
    s.u8(0x10); s.u8(0x08); s.u8(0); s.u8(0); s.u32(4); s.u16(0); s.u16(32)
    s.result()
  }

  /** Filter pipeline message v2, one deflate(level 6) entry. */
  val pipelineDeflate: Array[Byte] = {
    val s = new Sink
    s.u8(2); s.u8(1)       // version, nfilters
    s.u16(1); s.u16(0)     // filter id 1 (deflate), flags
    s.u16(1); s.u32(6)     // one client value: level
    s.result()
  }

  /** Link message v1, flags=0: hard link, 1-byte name length. */
  def link(name: String, addr: Long): Array[Byte] = {
    val s = new Sink
    val nb = name.getBytes("UTF-8")
    s.u8(1); s.u8(0); s.u8(nb.length); s.bytes(nb); s.u64(addr)
    s.result()
  }

  /** Link message v1 with an explicit link type (flags bit 3): the
    * link-specific info bytes follow the name verbatim. */
  def typedLink(name: String, ltype: Int, info: Array[Byte]): Array[Byte] = {
    val s = new Sink
    val nb = name.getBytes("UTF-8")
    s.u8(1); s.u8(0x08); s.u8(ltype); s.u8(nb.length); s.bytes(nb); s.bytes(info)
    s.result()
  }

  /** Soft link (type 1, spec IV.A.2.g): 2-byte value length + target path. */
  def softLink(name: String, target: String): Array[Byte] = {
    val s = new Sink
    val tb = target.getBytes("UTF-8")
    s.u16(tb.length); s.bytes(tb)
    typedLink(name, 1, s.result())
  }

  /** External link (type 64, spec IV.A.2.g + the H5L blob layout): 2-byte
    * value length, then version/flags byte 0, NUL-terminated target file
    * name, NUL-terminated target object path. */
  def externalLink(name: String, file: String, objPath: String): Array[Byte] = {
    val blob = new Sink
    blob.u8(0)
    blob.bytes(file.getBytes("UTF-8")); blob.u8(0)
    blob.bytes(objPath.getBytes("UTF-8")); blob.u8(0)
    val b = blob.result()
    val s = new Sink
    s.u16(b.length); s.bytes(b)
    typedLink(name, 64, s.result())
  }

  /** Data layout message v4, chunked, with the index-type config tail.
    * Like v3, the dimensionality byte is rank + 1 and the dimension list
    * carries the datatype's element size as its trailing entry (the C
    * library encodes the same u.chunk.ndims it uses for v3). */
  def layoutV4(chunkDims: Seq[Long], idxType: Int, addr: Long,
               flags: Int = 0, singleFilteredSize: Long = -1L,
               eaCfg: (Int, Int, Int, Int, Int) = (0, 0, 0, 0, 0),
               elemSize: Long = 4L): Array[Byte] = {
    val s = new Sink
    s.u8(4); s.u8(2)            // version 4, class 2 (chunked)
    s.u8(flags); s.u8(chunkDims.length + 1); s.u8(8) // rank+1, 8-byte dim encoding
    chunkDims.foreach(s.u64); s.u64(elemSize)
    s.u8(idxType)
    idxType match {
      case 1 =>
        if ((flags & 0x02) != 0) { s.u64(singleFilteredSize); s.u32(0) }
      case 2 => // implicit: nothing but the address
      case 3 => s.u8(10) // page bits (in-message copy; authoritative in FAHD)
      case 4 =>
        val (maxBits, idxElmts, minPtrs, minElmts, pageBits) = eaCfg
        s.u8(maxBits); s.u8(idxElmts); s.u8(minPtrs); s.u8(minElmts); s.u8(pageBits)
      case 5 => s.u32(2048); s.u8(100); s.u8(40) // node size, split%, merge%
    }
    s.u64(addr)
    s.result()
  }

  // ----------------------------------------------------- index structures

  /** Fixed array header + data block (spec III.G). Entries are (addr,
    * storedSize) — size is ignored for client 0. `pageBits` paginates:
    * nelmts > 2^pageBits puts a page bitmap (LSB-first) + block checksum
    * after the data-block header and the pages after that, each followed
    * by its own checksum; a clear bitmap bit marks a never-written page. */
  def fixedArray(s: Sink, clientId: Int, entrySize: Int, pageBits: Int,
                 entries: Seq[(Long, Long)], pagesPresent: Seq[Boolean] = Nil): Long = {
    val dbAddr0 = s.pos // data block first (header needs its address... write header after)
    // write header AFTER the data block so both addresses are known:
    // simpler to write data block, remember, then header referencing it
    val pageN = 1L << pageBits
    val nelmts = entries.length.toLong
    val hdrPlaceholder = -1L // header address inside FADB is informational; parser ignores
    s.lit("FADB"); s.u8(0); s.u8(clientId); s.u64(hdrPlaceholder)
    def writeEntry(e: (Long, Long)): Unit = {
      val (addr, sz) = e
      s.u64(addr)
      if (clientId == 1) {
        val szBytes = entrySize - 8 - 4
        (0 until szBytes).foreach(i => s.u8(((sz >>> (8 * i)) & 0xff).toInt))
        s.u32(0) // filter mask
      }
    }
    if (nelmts <= pageN) {
      entries.foreach(writeEntry)
      s.u32(0) // checksum
    } else {
      val npages = ((nelmts + pageN - 1) / pageN).toInt
      val present = if (pagesPresent.nonEmpty) pagesPresent else Seq.fill(npages)(true)
      require(present.length == npages)
      val bmp = new Array[Byte]((npages + 7) / 8)
      present.zipWithIndex.foreach { case (p, i) => if (p) bmp(i / 8) = (bmp(i / 8) | (1 << (i % 8))).toByte }
      s.bytes(bmp); s.u32(0) // bitmap + data-block checksum
      (0 until npages).foreach { pg =>
        val count = math.min(pageN, nelmts - pg * pageN).toInt
        if (present(pg)) entries.slice((pg * pageN).toInt, (pg * pageN).toInt + count).foreach(writeEntry)
        else (0 until count).foreach(_ => writeEntry((UNDEF, 0L))) // space reserved, never written
        s.u32(0) // per-page checksum
      }
    }
    val hdrAddr = s.pos
    s.lit("FAHD"); s.u8(0); s.u8(clientId); s.u8(entrySize); s.u8(pageBits)
    s.u64(nelmts); s.u64(dbAddr0); s.u32(0)
    hdrAddr
  }

  /** v2 b-tree, depth 0: one BTLF leaf holding `records`, then the BTHD. */
  def btree2(s: Sink, recordType: Int, recSize: Int, records: Seq[Array[Byte]]): Long = {
    val leafAddr = s.pos
    s.lit("BTLF"); s.u8(0); s.u8(recordType)
    records.foreach { r => require(r.length == recSize); s.bytes(r) }
    s.u32(0)
    val hdrAddr = s.pos
    s.lit("BTHD"); s.u8(0); s.u8(recordType)
    s.u32(2048); s.u16(recSize); s.u16(0) // node size, record size, depth
    s.u8(100); s.u8(40)                   // split / merge percent
    s.u64(leafAddr); s.u16(records.length); s.u64(records.length.toLong)
    s.u32(0)
    hdrAddr
  }

  /** Depth-1 v2 b-tree: leaves under one root internal node (`BTIN`) —
    * the node shape a many-chunk dataset's index actually has, exercising
    * the walker's depth>0 child-pointer arithmetic. `groups` are the leaf
    * record runs IN ORDER; between consecutive leaves one record is
    * promoted into the internal node (the b-tree invariant). The child
    * pointer's record-count field width is minBytes(maxNrec(0)) =
    * minBytes((nodeSize-10)/recSize), matching the reader's derivation
    * from the spec. */
  def btree2Depth1(s: Sink, recordType: Int, recSize: Int,
                   groups: Seq[Seq[Array[Byte]]]): Long = {
    require(groups.length >= 2, "depth-1 tree needs >= 2 leaves")
    val nodeSize = 2048
    val maxNrec0 = (nodeSize - 10) / recSize
    val nb = { var n = 0; var x = maxNrec0.toLong; while (x > 0) { n += 1; x >>= 8 }; n }
    // leaves: every group loses its LAST record to the internal node,
    // except the final group
    val leafRecs = groups.init.map(_.init) :+ groups.last
    val promoted = groups.init.map(_.last)
    val leafAddrs = leafRecs.map { recs =>
      val at = s.pos
      s.lit("BTLF"); s.u8(0); s.u8(recordType)
      recs.foreach { r => require(r.length == recSize); s.bytes(r) }
      s.u32(0)
      at
    }
    val rootAddr = s.pos
    s.lit("BTIN"); s.u8(0); s.u8(recordType)
    promoted.foreach(s.bytes) // internal records first
    leafAddrs.zip(leafRecs).foreach { case (addr, recs) => // then child pointers
      s.u64(addr)
      (0 until nb).foreach(i => s.u8(((recs.length >> (8 * i)) & 0xff)))
    }
    s.u32(0)
    val total = groups.map(_.length).sum
    val hdrAddr = s.pos
    s.lit("BTHD"); s.u8(0); s.u8(recordType)
    s.u32(nodeSize.toLong); s.u16(recSize); s.u16(1) // depth 1
    s.u8(100); s.u8(40)
    s.u64(rootAddr); s.u16(promoted.length); s.u64(total.toLong)
    s.u32(0)
    hdrAddr
  }

  /** Extensible array (spec III.F) for client 0 (plain chunk addresses),
    * unpaged data blocks. `elems(i)` is the chunk address for array index
    * i (UNDEF = unwritten). Geometry derived per the spec: super block u
    * holds 2^(u/2) data blocks of 2^((u+1)/2)*minElmts elements; the
    * index block stores the first idxElmts elements inline, direct
    * pointers for the first 2*(minPtrs-1) data blocks (super blocks
    * [0, 2*log2 minPtrs)), and super-block pointers for the rest. */
  def extensibleArray(s: Sink, maxBits: Int, idxElmts: Int, minPtrs: Int,
                      minElmts: Int, pageBits: Int, elems: Seq[Long]): Long = {
    def log2(x: Int): Int = 31 - Integer.numberOfLeadingZeros(x)
    val arrOffSize = (maxBits + 7) / 8
    val nsblks = 1 + maxBits - log2(minElmts)
    val sblkFirst = 2 * log2(minPtrs)
    val nDirectDblks = 2 * (minPtrs - 1)
    case class SB(ndblks: Int, dblkNelmts: Int, startIdx: Int, startDblk: Int)
    val sbs = {
      var si = 0; var sd = 0
      (0 until nsblks).map { u =>
        val nd = 1 << (u / 2); val dn = (1 << ((u + 1) / 2)) * minElmts
        val r = SB(nd, dn, si, sd); si += nd * dn; sd += nd; r
      }
    }
    // spec self-check: the direct data-block pointer count equals the
    // total data blocks of the super blocks the index block absorbs
    require(sbs.take(math.min(sblkFirst, nsblks)).map(_.ndblks).sum ==
      math.min(nDirectDblks, sbs.take(math.min(sblkFirst, nsblks)).map(_.ndblks).sum))
    val maxIdxSet = elems.length
    def elemAt(i: Int): Long = if (i < elems.length) elems(i) else UNDEF
    // write data blocks for every range that holds a set element
    def writeDataBlock(startIdx: Int, n: Int): Long = {
      if ((0 until n).forall(i => elemAt(startIdx + i) == UNDEF)) UNDEF
      else {
        val at = s.pos
        s.lit("EADB"); s.u8(0); s.u8(0); s.u64(UNDEF)
        (0 until arrOffSize).foreach(_ => s.u8(0)) // block offset (parser skips)
        val count = math.min(n, math.max(0, maxIdxSet - startIdx))
        (0 until count).foreach(i => s.u64(elemAt(startIdx + i)))
        s.u32(0)
        at
      }
    }
    val directAddrs = (0 until math.min(sblkFirst, nsblks)).flatMap { u =>
      val sb = sbs(u)
      (0 until sb.ndblks).map(d => writeDataBlock(idxElmts + sb.startIdx + d * sb.dblkNelmts, sb.dblkNelmts))
    }
    val superAddrs = (sblkFirst until nsblks).map { u =>
      val sb = sbs(u)
      val dblkAddrs = (0 until sb.ndblks).map(d =>
        writeDataBlock(idxElmts + sb.startIdx + d * sb.dblkNelmts, sb.dblkNelmts))
      if (dblkAddrs.forall(_ == UNDEF)) UNDEF
      else {
        val at = s.pos
        s.lit("EASB"); s.u8(0); s.u8(0); s.u64(UNDEF)
        (0 until arrOffSize).foreach(_ => s.u8(0))
        dblkAddrs.foreach(s.u64)
        s.u32(0)
        at
      }
    }
    val iblkAddr = s.pos
    s.lit("EAIB"); s.u8(0); s.u8(0); s.u64(UNDEF)
    (0 until idxElmts).foreach(i => s.u64(elemAt(i)))
    directAddrs.padTo(nDirectDblks, UNDEF).take(nDirectDblks).foreach(s.u64)
    superAddrs.foreach(s.u64)
    s.u32(0)
    val hdrAddr = s.pos
    s.lit("EAHD"); s.u8(0); s.u8(0) // version, client 0
    s.u8(8)                         // element size (a bare 8-byte address)
    s.u8(maxBits); s.u8(idxElmts); s.u8(minElmts); s.u8(minPtrs); s.u8(pageBits)
    s.u64(0); s.u64(0); s.u64(0); s.u64(0) // nsec/secsize/ndblks/dblksize (stats; parser skips)
    s.u64(maxIdxSet.toLong); s.u64(maxIdxSet.toLong)
    s.u64(iblkAddr); s.u32(0)
    hdrAddr
  }

  // --------------------------------------------------------------- file

  /** One superblock-v2 file: datasets written by `build(sink)` (returning
    * (name, ohdrAddr) links), root group last, then the superblock fields
    * patched in. */
  def file(build: Sink => Seq[(String, Long)]): Array[Byte] =
    fileMsgs(s => build(s).map { case (n, a) => 0x06 -> link(n, a) })

  /** [[file]], but the root group's messages are given raw — for fixtures
    * mixing hard and SOFT link messages (or any other root message). */
  def fileMsgs(build: Sink => Seq[(Int, Array[Byte])]): Array[Byte] = {
    val s = new Sink
    s.bytes(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte))
    s.u8(2); s.u8(8); s.u8(8); s.u8(0) // version 2, 8-byte offsets/lengths
    s.u64(0); s.u64(UNDEF)             // base, extension
    val eofAt = s.pos; s.u64(0)        // EOF (patched)
    val rootAt = s.pos; s.u64(0)       // root header (patched)
    s.u32(0)                           // checksum
    val msgs = build(s)
    val rootAddr = ohdr(s, msgs)
    val out = s.result()
    val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(eofAt.toInt, out.length.toLong)
    bb.putLong(rootAt.toInt, rootAddr)
    out
  }
}

