package graft

import graft.sources.Hdf5
import scala.collection.mutable.ArrayBuffer

/** Byte-level HDF5 writer for test fixtures.
  *
  * No HDF5 library exists on this project's class path, so fixtures
  * are written BYTE-BY-BYTE from the public HDF5 File Format
  * Specification: superblock v3 → root v1 object header with hard
  * Link messages → per-dataset v1 object headers carrying dataspace
  * v1 / datatype v1 / layout v4 / filter-pipeline v1 / attribute v1
  * messages → chunk-index structures (`FAHD`/`FADB`) and raw chunks.
  * [[Hdf5V4Spec]] builds its chunk-index fixtures with it, and
  * [[GoesFixture]] builds q97's committed default input.
  */
object Hdf5Writer {

  val Undef = -1L

  final class W {
    private val buf = ArrayBuffer.empty[Byte]
    def pos: Long = buf.length.toLong
    def u8(v: Int): Unit = buf += (v & 0xff).toByte
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Long): Unit = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    def u64(v: Long): Unit = { u32(v & 0xffffffffL); u32(v >>> 32) }
    def uN(v: Long, n: Int): Unit = (0 until n).foreach(i => u8(((v >>> (8 * i)) & 0xff).toInt))
    def bytes(a: Array[Byte]): Unit = buf ++= a
    def ascii(s: String): Unit = bytes(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def pad(n: Int): Unit = (0 until n).foreach(_ => u8(0))
    def patchU64(at: Long, v: Long): Unit =
      (0 until 8).foreach(i => buf(at.toInt + i) = ((v >>> (8 * i)) & 0xff).toByte)
    def patchU32(at: Long, v: Long): Unit =
      (0 until 4).foreach(i => buf(at.toInt + i) = ((v >>> (8 * i)) & 0xff).toByte)
    /** real lookup3 checksum of an already-written span — index
      * structure checksums are verified on read (round 12), and the
      * hash itself is pinned against library-written bytes by the
      * GOES pristine-no-op spec */
    def cksum(from: Long, until: Long): Long =
      Hdf5.checksumOf(buf.slice(from.toInt, until.toInt).toArray)
    def result: Array[Byte] = buf.toArray
  }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** The shuffle filter's encode: byte plane b of every `elemSize`-byte
    * element lands in the b-th run of the output.
    */
  def shuffle(data: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = data.length / elemSize
    val out = new Array[Byte](data.length)
    for (b <- 0 until elemSize; j <- 0 until n) out(b * n + j) = data(j * elemSize + b)
    out
  }

  // ----------------------------------------------------------------
  // message builders (bodies only; the v1 header writer pads to 8)
  // ----------------------------------------------------------------

  def msgBytes(f: W => Unit): Array[Byte] = { val w = new W; f(w); w.result }

  /** dataspace v1: ver, rank, flags, 5 reserved, dims [+ maxdims] */
  def dataspaceMsg(dims: Seq[Long], maxDims: Seq[Long] = Seq.empty): Array[Byte] =
    msgBytes { w =>
      w.u8(1); w.u8(dims.length); w.u8(if (maxDims.nonEmpty) 1 else 0); w.pad(5)
      dims.foreach(w.u64)
      maxDims.foreach(w.u64)
    }

  /** datatype v1 IEEE float64 LE */
  def f64Msg: Array[Byte] = msgBytes { w =>
    w.u8(0x11); w.u8(0x20); w.u8(0x3f); w.u8(0) // class 1 v1; LE, canonical bit fields
    w.u32(8)
    w.u16(0); w.u16(64)  // bit offset / precision
    w.u8(52); w.u8(11)   // exponent location / size
    w.u8(0); w.u8(52)    // mantissa location / size
    w.u32(1023)          // exponent bias
  }

  /** datatype v1 fixed-size string of `n` bytes */
  def strMsg(n: Int): Array[Byte] = msgBytes { w =>
    w.u8(0x13); w.u8(0); w.u8(0); w.u8(0); w.u32(n.toLong)
  }

  /** filter pipeline v1, one stage per (filter id, its single client
    * data value), applied in order on write
    */
  def filterPipelineMsg(stages: (Int, Int)*): Array[Byte] = msgBytes { w =>
    w.u8(1); w.u8(stages.length); w.pad(6) // version, nfilters, reserved
    stages.foreach { case (id, cd) =>
      w.u16(id); w.u16(0); w.u16(0); w.u16(1) // id, no name, flags, 1 cd value
      w.u32(cd.toLong); w.pad(4)              // cd value + odd cd count pad
    }
  }

  /** a single deflate(level 6) stage */
  def deflateFilterMsg: Array[Byte] = filterPipelineMsg(1 -> 6)

  /** shuffle (element size `elemSize`) then deflate(level 6) — the
    * netCDF-4 `shuffle=True, zlib=True` pipeline
    */
  def shuffleDeflateFilterMsg(elemSize: Int): Array[Byte] =
    filterPipelineMsg(2 -> elemSize, 1 -> 6)

  /** data layout v4, class 2 (chunked). `cdims` includes the trailing
    * element-size dim. `extra` is the per-index-type information.
    */
  def layoutV4Msg(flags: Int, cdims: Seq[Int], idxType: Int,
                  addr: Long, extra: Array[Byte] = Array.empty): Array[Byte] =
    msgBytes { w =>
      w.u8(4); w.u8(2); w.u8(flags)
      w.u8(cdims.length); w.u8(4)     // 4-byte encoded dim sizes
      cdims.foreach(d => w.u32(d.toLong))
      w.u8(idxType); w.bytes(extra)
      w.u64(addr)
    }

  /** hard Link message v1, no optional fields */
  def linkMsg(name: String, addr: Long): Array[Byte] = msgBytes { w =>
    w.u8(1); w.u8(0); w.u8(name.length)
    w.ascii(name); w.u64(addr)
  }

  /** attribute message v1: name, datatype and dataspace each padded
    * to 8 bytes, then the raw value
    */
  def attrMsgV1(aname: String, dtb: Array[Byte], dims: Seq[Long],
                payload: Array[Byte]): Array[Byte] =
    msgBytes { x =>
      val dsb = dataspaceMsg(dims)
      x.u8(1); x.u8(0)
      x.u16(aname.length + 1)
      x.u16(dtb.length); x.u16(dsb.length)
      x.ascii(aname); x.u8(0); x.pad((8 - (aname.length + 1) % 8) % 8)
      x.bytes(dtb); x.pad((8 - dtb.length % 8) % 8)
      x.bytes(dsb); x.pad((8 - dsb.length % 8) % 8)
      x.bytes(payload)
    }

  /** v1 object header: 12-byte prefix + 4 pad, then 8-byte-aligned
    * (type, size, flags, 3 reserved) message records.
    */
  def v1Header(w: W, msgs: Seq[(Int, Array[Byte])]): Long = {
    val start = w.pos
    val padded = msgs.map { case (t, b) =>
      (t, b ++ Array.fill((8 - b.length % 8) % 8)(0.toByte))
    }
    val hdrSize = padded.map(8 + _._2.length).sum
    w.u8(1); w.u8(0); w.u16(msgs.length); w.u32(1); w.u32(hdrSize.toLong); w.pad(4)
    padded.foreach { case (t, b) =>
      w.u16(t); w.u16(b.length); w.u8(0); w.pad(3); w.bytes(b)
    }
    start
  }

  /** superblock v3 shell; returns the file with root address patched. */
  def file(build: W => Long): Array[Byte] = {
    val w = new W
    w.bytes(Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    w.u8(3); w.u8(8); w.u8(8); w.u8(0) // version, offsets, lengths, flags
    w.u64(0)                           // base address
    w.u64(Undef)                       // superblock extension
    w.u64(Undef)                       // EOF (patched below)
    w.u64(Undef)                       // root header (patched below)
    w.u32(0)                           // checksum (patched once fields settle)
    val root = build(w)
    w.patchU64(36, root)
    w.patchU64(28, w.pos)
    w.patchU32(44, w.cksum(0, 44))
    w.result
  }

  /** FAHD + inline or paged FADB for a client-0/1 element list.
    * elems = (addr, storedSize, mask); addr Undef = unallocated.
    */
  def fixedArray(w: W, client: Int, csLen: Int, pageBits: Int,
                 elems: Seq[(Long, Long, Int)],
                 uninitPages: Set[Int] = Set.empty): Long = {
    val entrySize = if (client == 0) 8 else 8 + csLen + 4
    val hdr = w.pos
    w.ascii("FAHD"); w.u8(0); w.u8(client); w.u8(entrySize); w.u8(pageBits)
    w.u64(elems.length.toLong)
    val dblkAddrAt = w.pos
    w.u64(Undef); w.u32(0)
    val dblk = w.pos
    w.patchU64(dblkAddrAt, dblk)
    w.patchU32(hdr + 24, w.cksum(hdr, hdr + 24))
    w.ascii("FADB"); w.u8(0); w.u8(client); w.u64(hdr)
    def elem(e: (Long, Long, Int)): Unit = {
      w.u64(e._1)
      if (client == 1) { w.uN(e._2, csLen); w.u32(e._3.toLong) }
    }
    val pageElems = 1 << pageBits
    if (elems.length <= pageElems) {
      elems.foreach(elem); w.u32(w.cksum(dblk, w.pos))
    } else {
      val nPages = (elems.length + pageElems - 1) / pageElems
      val bitmap = new Array[Int]((nPages + 7) / 8)
      // H5VM bit order: MSB-first within each byte
      (0 until nPages).filterNot(uninitPages).foreach(p => bitmap(p / 8) |= 0x80 >> (p % 8))
      bitmap.foreach(w.u8); w.u32(w.cksum(dblk, w.pos)) // bitmap + data-block checksum
      elems.grouped(pageElems).foreach { pg =>
        val pageStart = w.pos
        pg.foreach(elem); w.u32(w.cksum(pageStart, w.pos))
      }
    }
    hdr
  }
}
