package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Hdf5
import graft.Hdf5Writer._

/** Spec for the version-4 data-layout chunk indexes (libver-latest
  * HDF5 encodings): Single Chunk (plain + filtered), Implicit, Fixed
  * Array (inline + paged data blocks, clients 0/1, partial-edge and
  * missing chunks), and v2 B-tree record types 10/11.
  *
  * The fixtures are written BYTE-BY-BYTE from the public HDF5 File
  * Format Specification with the shared [[Hdf5Writer]] (same approach
  * as NetCdfSpec's classic fixtures): superblock v3 → root v1 object
  * header with hard Link messages → per-dataset v1 object headers
  * carrying dataspace v1 / datatype v1 / layout v4 / filter-pipeline
  * v1 messages → index structures (`FAHD`/`FADB`, `BTHD`/`BTLF`, built
  * here or in the writer) and raw chunks. Out-of-bounds
  * positions inside partial edge chunks are filled with a sentinel
  * value so a scatter that ignores chunk/dataset bounds fails loudly.
  */
class Hdf5V4Spec extends AnyFunSuite {

  /** datatype v1 fixed-point int32 LE signed */
  private def int32Msg: Array[Byte] = msgBytes { w =>
    w.u8(0x10); w.u8(0x08); w.u8(0); w.u8(0) // class 0 v1; signed LE
    w.u32(4)                                  // size
    w.u16(0); w.u16(32)                       // bit offset / precision
  }

  /** datatype v1 fixed-point int16 LE signed */
  private def int16Msg: Array[Byte] = msgBytes { w =>
    w.u8(0x10); w.u8(0x08); w.u8(0); w.u8(0) // class 0 v1; signed LE
    w.u32(2)                                  // size
    w.u16(0); w.u16(16)                       // bit offset / precision
  }

  // ----------------------------------------------------------------
  // chunk-data helpers: int32 value grid v(i,j) = 100*i + j, with a
  // sentinel in out-of-bounds positions of partial edge chunks
  // ----------------------------------------------------------------

  private val Sentinel = 999999

  private def chunkData(rows: Int, cols: Int, oi: Int, oj: Int,
                        ci: Int, cj: Int): Array[Byte] = {
    val w = new W
    (0 until ci).foreach { r =>
      (0 until cj).foreach { c =>
        val (i, j) = (oi + r, oj + c)
        w.u32(if (i < rows && j < cols) (100 * i + j).toLong else Sentinel.toLong)
      }
    }
    w.result
  }

  private def expected(rows: Int, cols: Int,
                       holes: Set[(Int, Int)] = Set.empty): Array[Double] =
    (0 until rows).flatMap { i =>
      (0 until cols).map { j =>
        val (gi, gj) = (i / 2, j / 3) // grid coords under 2x3 chunks
        if (holes((gi, gj))) 0.0 else (100 * i + j).toDouble
      }
    }.toArray

  private def readVar(bytes: Array[Byte], name: String = "d"): Array[Double] = {
    val h5 = Hdf5.parse(bytes)
    Hdf5.readDoubles(bytes, h5(name))
  }

  private def dsetHeader(w: W, dims: Seq[Long], layout: Array[Byte],
                         filtered: Boolean, dtype: Array[Byte] = int32Msg,
                         maxDims: Seq[Long] = Seq.empty): Long =
    v1Header(w,
      Seq((1, dataspaceMsg(dims, maxDims)), (3, dtype)) ++
        (if (filtered) Seq((11, deflateFilterMsg)) else Nil) ++
        Seq((8, layout)))

  private def rootFor(w: W, links: (String, Long)*): Long =
    v1Header(w, links.map { case (n, a) => (6, linkMsg(n, a)) })

  // ----------------------------------------------------------------
  // Single Chunk
  // ----------------------------------------------------------------

  test("v4 Single Chunk index reads (unfiltered)") {
    val bytes = file { w =>
      val chunk = w.pos
      w.bytes(chunkData(4, 3, 0, 0, 4, 3))
      val d = dsetHeader(w, Seq(4, 3), layoutV4Msg(0, Seq(4, 3, 4), 1, chunk), filtered = false)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(4, 3).toSeq)
  }

  test("v4 Single Chunk index reads (deflate-filtered, flags bit 1)") {
    val raw = chunkData(4, 3, 0, 0, 4, 3)
    val comp = deflate(raw)
    val bytes = file { w =>
      val chunk = w.pos
      w.bytes(comp)
      val extra = msgBytes { x => x.u64(comp.length.toLong); x.u32(0) }
      val d = dsetHeader(w, Seq(4, 3),
        layoutV4Msg(0x2, Seq(4, 3, 4), 1, chunk, extra), filtered = true)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(4, 3).toSeq)
  }

  // ----------------------------------------------------------------
  // Implicit
  // ----------------------------------------------------------------

  test("v4 Implicit index reads contiguous chunks in grid order, edge chunks clipped") {
    val (rows, cols) = (5, 6) // 2x3 chunks -> 3x2 grid, partial last row
    val bytes = file { w =>
      val base = w.pos
      for (gi <- 0 until 3; gj <- 0 until 2)
        w.bytes(chunkData(rows, cols, gi * 2, gj * 3, 2, 3))
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 2, base), filtered = false)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols).toSeq)
  }

  // ----------------------------------------------------------------
  // Fixed Array
  // ----------------------------------------------------------------

  test("v4 Fixed Array index reads (inline elements, missing chunk zero-fills)") {
    val (rows, cols) = (5, 7) // 2x3 chunks -> 3x3 grid, partial edges
    val bytes = file { w =>
      val addrs = for (gi <- 0 until 3; gj <- 0 until 3) yield {
        if ((gi, gj) == (1, 1)) Undef // unallocated chunk -> fill value
        else { val a = w.pos; w.bytes(chunkData(rows, cols, gi * 2, gj * 3, 2, 3)); a }
      }
      val fa = fixedArray(w, client = 0, csLen = 0, pageBits = 10,
        addrs.map(a => (a, -1L, 0)))
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 3, fa, extra = Array(10.toByte)), filtered = false)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols, holes = Set((1, 1))).toSeq)
  }

  test("v4 Fixed Array paged data block reads; uninitialized page zero-fills") {
    val (rows, cols) = (5, 7) // 3x3 grid = 9 chunks; pageBits=2 -> pages of 4,4,1
    val bytes = file { w =>
      val addrs = for (gi <- 0 until 3; gj <- 0 until 3) yield {
        val a = w.pos; w.bytes(chunkData(rows, cols, gi * 2, gj * 3, 2, 3)); a
      }
      val fa = fixedArray(w, client = 0, csLen = 0, pageBits = 2,
        addrs.map(a => (a, -1L, 0)), uninitPages = Set(2))
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 3, fa, extra = Array(2.toByte)), filtered = false)
      rootFor(w, "d" -> d)
    }
    // page 2 holds only linear chunk 8 = grid (2,2)
    assert(readVar(bytes).toSeq == expected(rows, cols, holes = Set((2, 2))).toSeq)
  }

  test("v4 Fixed Array client 1: deflated chunks, partial edges stored raw (flag bit 0)") {
    val (rows, cols) = (5, 7)
    val bytes = file { w =>
      val elems = for (gi <- 0 until 3; gj <- 0 until 3) yield {
        val raw = chunkData(rows, cols, gi * 2, gj * 3, 2, 3)
        val partial = gi == 2 || gj == 2
        val stored = if (partial) raw else deflate(raw)
        val a = w.pos; w.bytes(stored)
        (a, stored.length.toLong, 0)
      }
      val fa = fixedArray(w, client = 1, csLen = 3, pageBits = 10, elems)
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0x1, Seq(2, 3, 4), 3, fa, extra = Array(10.toByte)), filtered = true)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols).toSeq)
  }

  // ----------------------------------------------------------------
  // v2 B-tree chunk records
  // ----------------------------------------------------------------

  /** depth-0 BTHD + BTLF with raw `records` of `recSize` bytes */
  private def btreeV2(w: W, btype: Int, recSize: Int,
                      records: Seq[Array[Byte]]): Long = {
    val hdr = w.pos
    w.ascii("BTHD"); w.u8(0); w.u8(btype)
    w.u32(512); w.u16(recSize); w.u16(0) // node size, record size, depth
    w.u8(100); w.u8(10)                  // split / merge percent
    val rootAt = w.pos
    w.u64(Undef); w.u16(records.length)
    w.u64(records.length.toLong)         // total records
    w.u32(0)                             // checksum (patched below)
    val leaf = w.pos
    w.patchU64(rootAt, leaf)
    w.patchU32(hdr + 34, w.cksum(hdr, hdr + 34))
    w.ascii("BTLF"); w.u8(0); w.u8(btype)
    records.foreach { r => assert(r.length == recSize); w.bytes(r) }
    w.u32(w.cksum(leaf, w.pos))
    hdr
  }

  test("v4 v2 B-tree index reads (type 10, unfiltered, scaled offsets)") {
    val (rows, cols) = (6, 4) // 2x3 chunks -> 3x2 grid (exact)
    val bytes = file { w =>
      val recs = for (gi <- 0 until 3; gj <- 0 until 2) yield {
        val a = w.pos; w.bytes(chunkData(rows, cols, gi * 2, gj * 3, 2, 3))
        msgBytes { r => r.u64(a); r.u64(gi.toLong); r.u64(gj.toLong) }
      }
      val bt = btreeV2(w, btype = 10, recSize = 24, recs)
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 5, bt,
          extra = msgBytes { x => x.u32(512); x.u8(100); x.u8(10) }),
        filtered = false)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols).toSeq)
  }

  test("v4 v2 B-tree index reads (type 11, deflate-filtered records)") {
    val (rows, cols) = (5, 7) // 3x3 grid with partial edges, all filtered
    val csLen = 2
    val bytes = file { w =>
      val recs = for (gi <- 0 until 3; gj <- 0 until 3) yield {
        val comp = deflate(chunkData(rows, cols, gi * 2, gj * 3, 2, 3))
        val a = w.pos; w.bytes(comp)
        msgBytes { r =>
          r.u64(a); r.uN(comp.length.toLong, csLen); r.u32(0)
          r.u64(gi.toLong); r.u64(gj.toLong)
        }
      }
      val bt = btreeV2(w, btype = 11, recSize = 8 + csLen + 4 + 16, recs)
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 5, bt,
          extra = msgBytes { x => x.u32(512); x.u8(100); x.u8(10) }),
        filtered = true)
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols).toSeq)
  }

  // ----------------------------------------------------------------
  // float64 through the same path + the one documented rejection
  // ----------------------------------------------------------------

  test("v4 Fixed Array reads float64 data end-to-end") {
    val (rows, cols) = (4, 6) // 2x3 chunks -> 2x2 grid, exact
    def f64Chunk(oi: Int, oj: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(2 * 3 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (r <- 0 until 2; c <- 0 until 3) bb.putDouble((oi + r) * 0.5 + (oj + c) * 0.25)
      bb.array()
    }
    val bytes = file { w =>
      val addrs = for (gi <- 0 until 2; gj <- 0 until 2) yield {
        val a = w.pos; w.bytes(f64Chunk(gi * 2, gj * 3)); a
      }
      val fa = fixedArray(w, client = 0, csLen = 0, pageBits = 10,
        addrs.map(a => (a, -1L, 0)))
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 8), 3, fa, extra = Array(10.toByte)),
        filtered = false, dtype = f64Msg)
      rootFor(w, "d" -> d)
    }
    val got = readVar(bytes)
    val want = (0 until rows).flatMap(i => (0 until cols).map(j => i * 0.5 + j * 0.25))
    assert(got.toSeq == want)
  }

  // ----------------------------------------------------------------
  // Extensible Array (unlimited dim 0, 1x2 chunks over rows x 2)
  // ----------------------------------------------------------------

  /** EA geometry used below: maxBits=16 (2-byte block offsets),
    * idxBlkElmts=2, dataBlkMinElmts=2, supBlkMinDataPtrs=2 →
    * nsblks=16, the first 2 super blocks' data blocks direct from
    * the index block. Per-super-block doubling: sblk0 = 1 block x 2
    * elements (slots 2-3), sblk1 = 1 block x 4 (slots 4-7), sblk2 =
    * 2 blocks x 4 (slots 8-15). `elems` = (addr, storedSize, mask)
    * per linear chunk; missing tail slots become Undef addresses
    * (not-yet-appended region).
    */
  private def extensibleArray(w: W, client: Int, csLen: Int,
                              elems: Seq[(Long, Long, Int)],
                              pageBits: Int = 10): Long = {
    val elemSize = if (client == 0) 8 else 8 + csLen + 4
    val (maxBits, idxElmts, dblkMin, sblkMinPtrs) = (16, 2, 2, 2)
    val nsblks = 1 + (maxBits - 1) // log2(dblkMin) = 1
    val iblockNsblks = 2           // 2 * log2(sblkMinPtrs)
    val hdr = w.pos
    w.ascii("EAHD"); w.u8(0); w.u8(client)
    w.u8(elemSize); w.u8(maxBits); w.u8(idxElmts); w.u8(dblkMin)
    w.u8(sblkMinPtrs); w.u8(pageBits)
    (0 until 6).foreach(_ => w.u64(0)) // statistics (unread)
    val idxAddrAt = w.pos
    w.u64(Undef); w.u32(0)
    def at(i: Int): (Long, Long, Int) =
      if (i < elems.length) elems(i) else (Undef, -1L, 0)
    def elem(e: (Long, Long, Int)): Unit = {
      w.u64(e._1)
      if (client == 1) { w.uN(e._2, csLen); w.u32(e._3.toLong) }
    }
    // data blocks first (addresses needed by the index block)
    def dataBlock(start: Int, n: Int): Long =
      if ((start until start + n).forall(at(_)._1 == Undef)) Undef
      else {
        val a = w.pos
        w.ascii("EADB"); w.u8(0); w.u8(client); w.u64(hdr)
        w.uN(start.toLong, 2) // block offset (maxBits/8 bytes)
        (start until start + n).foreach(i => elem(at(i)))
        w.u32(w.cksum(a, w.pos))
        a
      }
    // paged data block (n > pageElems): prefix + its own checksum,
    // then full pages (elements + checksum) contiguously after it.
    // A page is initialized iff any of its slots is defined; uninit
    // pages are written as 0xEE filler with a garbage checksum — a
    // reader that touches them (bytes OR checksum) fails loudly.
    val pageElems = 1 << pageBits
    def dataBlockPaged(start: Int, n: Int): (Long, Seq[Boolean]) = {
      val nPages = n / pageElems
      if ((start until start + n).forall(at(_)._1 == Undef))
        (Undef, Seq.fill(nPages)(false))
      else {
        val a = w.pos
        w.ascii("EADB"); w.u8(0); w.u8(client); w.u64(hdr)
        w.uN(start.toLong, 2)
        w.u32(w.cksum(a, w.pos)) // prefix checksum only
        val inits = (0 until nPages).map { pg =>
          val slots = (start + pg * pageElems) until (start + (pg + 1) * pageElems)
          val init = slots.exists(at(_)._1 != Undef)
          val ps = w.pos
          if (init) { slots.foreach(i => elem(at(i))); w.u32(w.cksum(ps, w.pos)) }
          else {
            (0 until pageElems * elemSize).foreach(_ => w.u8(0xEE))
            w.u32(0xDEADBEEFL)
          }
          init
        }
        (a, inits)
      }
    }
    val directA = dataBlock(2, 2) // sblk0: 1 block x 2
    val directB = dataBlock(4, 4) // sblk1: 1 block x 4
    // super block 2: 2 data blocks x 4 elements (slots 8..15); when
    // pageBits makes those blocks paged, the super block carries the
    // page-init bitmap (H5VM MSB-first) before the block addresses
    val sblk2 =
      if ((8 until 16).forall(at(_)._1 == Undef)) Undef
      else if (4 <= pageElems) {
        val d0 = dataBlock(8, 4)
        val d1 = dataBlock(12, 4)
        val a = w.pos
        w.ascii("EASB"); w.u8(0); w.u8(client); w.u64(hdr)
        w.uN(8L, 2) // block offset
        w.u64(d0); w.u64(d1)
        w.u32(w.cksum(a, w.pos))
        a
      } else {
        val (d0, i0) = dataBlockPaged(8, 4)
        val (d1, i1) = dataBlockPaged(12, 4)
        val a = w.pos
        w.ascii("EASB"); w.u8(0); w.u8(client); w.u64(hdr)
        w.uN(8L, 2)
        val bits = i0 ++ i1
        val bitmap = new Array[Int]((bits.length + 7) / 8)
        bits.zipWithIndex.foreach { case (bit, i) =>
          if (bit) bitmap(i / 8) |= 0x80 >> (i % 8) }
        bitmap.foreach(w.u8)
        w.u64(d0); w.u64(d1)
        w.u32(w.cksum(a, w.pos))
        a
      }
    require(elems.length <= 16, "fixture geometry covers 16 slots")
    val iblk = w.pos
    w.ascii("EAIB"); w.u8(0); w.u8(client); w.u64(hdr)
    (0 until idxElmts).foreach(i => elem(at(i)))
    w.u64(directA); w.u64(directB)
    w.u64(sblk2)
    (iblockNsblks + 1 until nsblks).foreach(_ => w.u64(Undef))
    w.u32(w.cksum(iblk, w.pos))
    w.patchU64(idxAddrAt, iblk)
    w.patchU32(hdr + 68, w.cksum(hdr, hdr + 68))
    hdr
  }

  /** 1x2 chunks over a rows x 2 grid: chunk i covers row i. */
  private def eaExpected(rows: Int, holes: Set[Int] = Set.empty): Seq[Double] =
    (0 until rows).flatMap(i => Seq(0, 1).map(j =>
      if (holes(i)) 0.0 else (100 * i + j).toDouble))

  private def eaLayoutExtra(pageBits: Int = 10): Array[Byte] =
    msgBytes { x => x.u8(16); x.u8(2); x.u8(2); x.u8(2); x.u8(pageBits) }

  test("v4 Extensible Array reads: inline, direct and super-block data blocks") {
    val rows = 9 // 2 inline + 2 (sblk0) + 4 (sblk1 direct) + 1 in sblk2-dblk0
    val bytes = file { w =>
      val chunks = (0 until rows).map { i =>
        val a = w.pos; w.bytes(chunkData(rows, 2, i, 0, 1, 2)); (a, -1L, 0)
      }
      val ea = extensibleArray(w, client = 0, csLen = 0, chunks)
      val d = dsetHeader(w, Seq(rows, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra()),
        filtered = false, maxDims = Seq(Undef, 2))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == eaExpected(rows))
  }

  test("v4 Extensible Array: undefined slots and absent blocks zero-fill") {
    val rows = 7 // chunks 3, 5, 6 missing -> Undef elements inside blocks; sblk2 absent
    val bytes = file { w =>
      val chunks = (0 until rows).map { i =>
        if (i == 3 || i >= 5) (Undef, -1L, 0)
        else { val a = w.pos; w.bytes(chunkData(rows, 2, i, 0, 1, 2)); (a, -1L, 0) }
      }
      val ea = extensibleArray(w, client = 0, csLen = 0, chunks)
      val d = dsetHeader(w, Seq(rows, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra()),
        filtered = false, maxDims = Seq(Undef, 2))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == eaExpected(rows, holes = Set(3, 5, 6)))
  }

  test("v4 Extensible Array client 1 reads deflate-filtered chunks") {
    val rows = 8
    val csLen = 2
    val bytes = file { w =>
      val chunks = (0 until rows).map { i =>
        val comp = deflate(chunkData(rows, 2, i, 0, 1, 2))
        val a = w.pos; w.bytes(comp); (a, comp.length.toLong, 0)
      }
      val ea = extensibleArray(w, client = 1, csLen = csLen, chunks)
      val d = dsetHeader(w, Seq(rows, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra()),
        filtered = true, maxDims = Seq(Undef, 2))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == eaExpected(rows))
  }

  test("v4 Extensible Array with a non-dim-0 unlimited dim reads (was a rejection before r13)") {
    // 2x2, 1x2 chunks, unlimited dim 1: swizzled grid is 1x2 (dim 1
    // slowest), so slot 0 is chunk (0,0) and the absent slot 1 is
    // row 1 — which must zero-fill, not scramble
    val bytes = file { w =>
      val chunk = w.pos; w.bytes(chunkData(2, 2, 0, 0, 1, 2))
      val ea = extensibleArray(w, client = 0, csLen = 0, Seq((chunk, -1L, 0)))
      val d = dsetHeader(w, Seq(2, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra()),
        filtered = false, maxDims = Seq(2, Undef)) // unlimited dim 1
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("v4 Fixed Array over an extendable dataset linearizes on the MAX-dims grid") {
    // dims 8x3 but maxDims 8x6: the FA is sized for the 4x2 max grid,
    // so the chunk covering rows 2-3 sits at linear index 2, not 1 —
    // a current-dims linearization scatters it into the wrong rows
    val (rows, cols) = (8, 3)
    val bytes = file { w =>
      val elems = (0 until 8).map { linear =>
        val (gi, gj) = (linear / 2, linear % 2)
        if (gj == 1) (Undef, -1L, 0) // cols 3-5: beyond current extent
        else { val a = w.pos; w.bytes(chunkData(rows, cols, gi * 2, 0, 2, 3)); (a, -1L, 0) }
      }
      val fa = fixedArray(w, client = 0, csLen = 0, pageBits = 10, elems)
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 3, 4), 3, fa, extra = Array(10.toByte)),
        filtered = false, maxDims = Seq(8, 6))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == expected(rows, cols).toSeq)
  }

  test("v4 Single Chunk honors flag bit 0: partial chunk stored raw despite filters") {
    // dataset 3x2 inside a 4x3 chunk (partial) with a deflate pipeline
    // and DONT_FILTER_PARTIAL_BOUND_CHUNKS set: payload is raw
    val raw = chunkData(3, 2, 0, 0, 4, 3)
    val bytes = file { w =>
      val chunk = w.pos
      w.bytes(raw)
      val extra = msgBytes { x => x.u64(raw.length.toLong); x.u32(0) }
      val d = dsetHeader(w, Seq(3, 2),
        layoutV4Msg(0x3, Seq(4, 3, 4), 1, chunk, extra), filtered = true,
        maxDims = Seq(4, 3))
      rootFor(w, "d" -> d)
    }
    val want = (0 until 3).flatMap(i => (0 until 2).map(j => (100 * i + j).toDouble))
    assert(readVar(bytes).toSeq == want)
  }

  // ----------------------------------------------------------------
  // fletcher32 verification (round 12: verified, not just stripped)
  // ----------------------------------------------------------------

  /** HDF5 Fletcher-32, independently re-derived for the fixture: sum
    * of 16-bit BE words (odd tail padded low), double-folded. The
    * reader's 360-word-block variant is additionally validated
    * against the REAL library-written checksums by the GOES baseline
    * test in Hdf5MalformedSpec.
    */
  private def fletcherRef(d: Array[Byte]): Long = {
    var s1 = 0L; var s2 = 0L
    (0 until d.length / 2).foreach { k =>
      s1 += ((d(2 * k) & 0xffL) << 8) | (d(2 * k + 1) & 0xffL); s2 += s1
    }
    if (d.length % 2 == 1) { s1 += (d(d.length - 1) & 0xffL) << 8; s2 += s1 }
    def fold(x0: Long): Long = {
      var x = x0; while (x > 0xffffL) x = (x & 0xffff) + (x >> 16); x
    }
    (fold(s2) << 16) | fold(s1)
  }

  /** filter pipeline v1 with a single fletcher32 stage */
  private def fletcherFilterMsg: Array[Byte] = msgBytes { w =>
    w.u8(1); w.u8(1); w.pad(6)
    w.u16(3); w.u16(0); w.u16(0); w.u16(0) // id=fletcher32, no name/flags/cd
  }

  private def fletcherFile(corruptChecksum: Boolean): Array[Byte] = {
    val raw = chunkData(4, 3, 0, 0, 4, 3)
    val sum = fletcherRef(raw) ^ (if (corruptChecksum) 1L else 0L)
    file { w =>
      val chunk = w.pos
      w.bytes(raw); w.u32(sum)
      val extra = msgBytes { x => x.u64(raw.length + 4L); x.u32(0) }
      val d = v1Header(w,
        Seq((1, dataspaceMsg(Seq(4, 3))), (3, int32Msg),
          (11, fletcherFilterMsg),
          (8, layoutV4Msg(0x2, Seq(4, 3, 4), 1, chunk, extra))))
      rootFor(w, "d" -> d)
    }
  }

  test("fletcher32-filtered chunk verifies and reads") {
    assert(readVar(fletcherFile(corruptChecksum = false)).toSeq == expected(4, 3).toSeq)
  }

  test("corrupted fletcher32 checksum is a precise error, not misread data") {
    val e = intercept[IllegalArgumentException](readVar(fletcherFile(corruptChecksum = true)))
    assert(e.getMessage.contains("fletcher32 mismatch"), e.getMessage)
  }

  test("fletcher32 block folding: large and odd-length chunks verify (>720-byte path)") {
    // the reader's 360-word overflow-deferral blocks only engage past
    // 720 bytes, and the odd-byte tail needs its own term — exercise
    // both with a 1-byte dtype so the total byte count can be odd
    val u8Msg = msgBytes { w =>
      w.u8(0x10); w.u8(0x08); w.u8(0); w.u8(0) // class 0 v1, unsigned-off LE
      w.u32(1)
      w.u16(0); w.u16(8)
    }
    for (n <- Seq(1441, 2000)) { // odd > 2x360 words, and even
      val raw = (0 until n).map(i => (i % 100).toByte).toArray
      val sum = fletcherRef(raw)
      val bytes = file { w =>
        val chunk = w.pos
        w.bytes(raw); w.u32(sum)
        val extra = msgBytes { x => x.u64(raw.length + 4L); x.u32(0) }
        val d = v1Header(w,
          Seq((1, dataspaceMsg(Seq(n))), (3, u8Msg),
            (11, fletcherFilterMsg),
            (8, layoutV4Msg(0x2, Seq(n, 1), 1, chunk, extra))))
        rootFor(w, "d" -> d)
      }
      val got = readVar(bytes)
      assert(got.length == n && got(7) == 7.0 && got(n - 1) == ((n - 1) % 100).toDouble,
        s"large fletcher32 chunk misread at n=$n")
    }
  }

  test("fletcher32 chunk too small for its checksum is a precise error") {
    // a (corrupt) stored size of 2 bytes cannot carry the 4-byte
    // checksum — must not index out of bounds
    val bytes = file { w =>
      val chunk = w.pos
      w.u16(0xbeef)
      val extra = msgBytes { x => x.u64(2L); x.u32(0) }
      val d = v1Header(w,
        Seq((1, dataspaceMsg(Seq(4, 3))), (3, int32Msg),
          (11, fletcherFilterMsg),
          (8, layoutV4Msg(0x2, Seq(4, 3, 4), 1, chunk, extra))))
      rootFor(w, "d" -> d)
    }
    val e = intercept[IllegalArgumentException](readVar(bytes))
    assert(e.getMessage.contains("cannot carry its checksum"), e.getMessage)
  }

  /** datatype v1 class 9 (variable-length STRING): 16-byte elements
    * (length + global-heap collection address + object index), base
    * type a 1-byte char (present per spec, ignored by the reader).
    */
  private def vlenStrMsg: Array[Byte] = msgBytes { w =>
    w.u8(0x19); w.u8(0x01); w.u8(0); w.u8(0) // class 9 v1; type=string
    w.u32(16)
    w.u8(0x10); w.u8(0); w.u8(0); w.u8(0); w.u32(1); w.u16(0); w.u16(8) // base char
  }

  /** data layout v3 class 1 (contiguous). */
  private def contiguousMsg(addr: Long, size: Long): Array[Byte] =
    msgBytes { w => w.u8(3); w.u8(1); w.u64(addr); w.u64(size) }

  /** One GCOL collection holding `values` as objects 1..n (+ the
    * free-space terminator); returns its address.
    */
  private def gcolFor(w: W, values: Seq[String]): Long = {
    val gcol = w.pos
    w.ascii("GCOL"); w.u8(1); w.pad(3)
    val sizeAt = w.pos; w.u64(0) // collection size, patched below
    values.zipWithIndex.foreach { case (v, i) =>
      w.u16(i + 1); w.u16(1); w.pad(4); w.u64(v.length.toLong)
      w.ascii(v); w.pad((8 - v.length % 8) % 8)
    }
    w.u16(0); w.u16(0); w.pad(4); w.u64(0) // free-space marker
    w.patchU64(sizeAt, w.pos - gcol)
    gcol
  }

  test("variable-length string dataset reads through the global heap") {
    val values = Seq("alpha", "B", "gamma-longer")
    val bytes = file { w =>
      val gcol = gcolFor(w, values)
      val data = w.pos
      values.zipWithIndex.foreach { case (v, i) =>
        w.u32(v.length.toLong); w.u64(gcol); w.u32((i + 1).toLong)
      }
      w.u32(0); w.u64(0); w.u32(0) // null descriptor: unwritten element
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(4))), (3, vlenStrMsg),
        (8, contiguousMsg(data, 4 * 16))))
      rootFor(w, "d" -> d)
    }
    val h5 = Hdf5.parse(bytes)
    assert(h5("d").dtype.vlenString)
    val got = Hdf5.readStrings(bytes, h5("d"))
    assert(got.toSeq == values :+ "")
    // the numeric path must refuse vlen precisely, not misread
    // descriptor bytes as values
    val e = intercept[IllegalArgumentException](Hdf5.readDoubles(bytes, h5("d")))
    assert(e.getMessage.contains("variable-length"), e.getMessage)
  }

  test("variable-length descriptor pointing at an absent heap object is a precise error") {
    val bytes = file { w =>
      val gcol = gcolFor(w, Seq("only"))
      val data = w.pos
      w.u32(4); w.u64(gcol); w.u32(9) // object 9 does not exist
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, vlenStrMsg),
        (8, contiguousMsg(data, 16))))
      rootFor(w, "d" -> d)
    }
    val h5 = Hdf5.parse(bytes)
    val e = intercept[RuntimeException](Hdf5.readStrings(bytes, h5("d")))
    assert(e.getMessage.contains("global heap object 9 not found"), e.getMessage)
  }

  test("multi-element vlen string attribute resolves every descriptor") {
    // r14 (ADVICE r13): parseAttr used to read only the FIRST 16-byte
    // descriptor of a class-9 attribute, silently dropping elements
    // 2..n — this pins all n resolving, ","-joined (r15, ADVICE:
    // bare concatenation made element boundaries unrecoverable)
    val values = Seq("red", "green", "blue")
    val bytes = file { w =>
      val gcol = gcolFor(w, values)
      val attr = msgBytes { x =>
        val dtb = vlenStrMsg; val dsb = dataspaceMsg(Seq(3))
        x.u8(1); x.u8(0)                     // attribute v1, reserved
        x.u16(6)                             // name size (incl NUL)
        x.u16(dtb.length); x.u16(dsb.length) // unpadded sizes
        x.ascii("names"); x.u8(0); x.pad(2)  // name, padded to 8
        x.bytes(dtb); x.pad((8 - dtb.length % 8) % 8)
        x.bytes(dsb); x.pad((8 - dsb.length % 8) % 8)
        values.zipWithIndex.foreach { case (v, i) =>
          x.u32(v.length.toLong); x.u64(gcol); x.u32((i + 1).toLong)
        }
      }
      val data = w.pos
      w.u32(7)
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)), (12, attr)))
      rootFor(w, "d" -> d)
    }
    val a = Hdf5.parse(bytes)("d").attrs.find(_.name == "names")
    assert(a.isDefined, "vlen attribute not parsed")
    assert(a.get.str == "red,green,blue",
      s"expected all 3 descriptors resolved with boundaries, got '${a.get.str}'")
    // the lossless form: h5py exposes these as string ARRAYS, and a
    // value containing "," is unsplittable from the joined view alone
    assert(a.get.strs == Seq("red", "green", "blue"),
      s"expected the element sequence, got ${a.get.strs}")
  }

  test("v4 virtual-storage layout class is the documented precise rejection") {
    val e = intercept[RuntimeException] {
      file { w =>
        val d = v1Header(w,
          Seq((1, dataspaceMsg(Seq(4, 3))), (3, int32Msg),
            (8, msgBytes { x => x.u8(4); x.u8(3); x.u64(0); x.u32(0) })))
        rootFor(w, "d" -> d)
      } match { case bytes => Hdf5.parse(bytes) }
    }
    assert(e.getMessage.contains("unsupported data layout class 3"), e.getMessage)
  }

  test("v4 Extensible Array paged INDEX-BLOCK data blocks are rejected precisely") {
    // slots 4-7 live in a direct (index-block-attached) 4-element
    // block; pageBits=1 makes it paged, and no on-disk structure owns
    // its page-init bits — precise throw, not a misread
    val rows = 9
    val bytes = file { w =>
      val chunks = (0 until rows).map { i =>
        val a = w.pos; w.bytes(chunkData(rows, 2, i, 0, 1, 2)); (a, -1L, 0)
      }
      val ea = extensibleArray(w, client = 0, csLen = 0, chunks, pageBits = 1)
      val d = dsetHeader(w, Seq(rows, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra(pageBits = 1)),
        filtered = false, maxDims = Seq(Undef, 2))
      rootFor(w, "d" -> d)
    }
    val h5 = Hdf5.parse(bytes)
    val e = intercept[RuntimeException](Hdf5.readDoubles(bytes, h5("d")))
    assert(e.getMessage.contains("paged index-block-attached"), e.getMessage)
  }

  test("v4 Extensible Array paged super-block data blocks read; uninit page zero-fills") {
    // pageBits=1 -> sblk2's two 4-element blocks are paged (2 pages
    // each, init bits in the super block, H5VM MSB-first). Slots 4-7
    // stay Undef so the direct blocks are skipped; slots 12-13 form
    // an UNINITIALIZED page written as 0xEE filler with a garbage
    // checksum — reading it at all would throw, so a pass proves the
    // bitmap gates both bytes and checksum
    val rows = 16
    val holes = Set(4, 5, 6, 7, 12, 13)
    val bytes = file { w =>
      val chunks = (0 until rows).map { i =>
        if (holes(i)) (Undef, -1L, 0)
        else { val a = w.pos; w.bytes(chunkData(rows, 2, i, 0, 1, 2)); (a, -1L, 0) }
      }
      val ea = extensibleArray(w, client = 0, csLen = 0, chunks, pageBits = 1)
      val d = dsetHeader(w, Seq(rows, 2),
        layoutV4Msg(0, Seq(1, 2, 4), 4, ea, extra = eaLayoutExtra(pageBits = 1)),
        filtered = false, maxDims = Seq(Undef, 2))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == eaExpected(rows, holes = holes))
  }

  test("v4 Extensible Array with unlimited dim 1 reads via swizzled chunk order") {
    // 4x6 int32, 2x2 chunks -> 2x3 grid, unlimited dim 1 (the
    // column-extendable layout): libhdf5 linearizes EA slots over the
    // SWIZZLED grid (dim 1 slowest), so slot = gj*2 + gi. Identity
    // (unswizzled) placement would put chunk (1,0) at grid (0,1) and
    // scramble half the values — a pass pins the permutation.
    val (rows, cols) = (4, 6)
    val bytes = file { w =>
      val slots = for (gj <- 0 until 3; gi <- 0 until 2) yield {
        val a = w.pos; w.bytes(chunkData(rows, cols, gi * 2, gj * 2, 2, 2)); (a, -1L, 0)
      }
      val ea = extensibleArray(w, client = 0, csLen = 0, slots)
      val d = dsetHeader(w, Seq(rows, cols),
        layoutV4Msg(0, Seq(2, 2, 4), 4, ea, extra = eaLayoutExtra()),
        filtered = false, maxDims = Seq(rows, Undef))
      rootFor(w, "d" -> d)
    }
    val want = (0 until rows).flatMap(i =>
      (0 until cols).map(j => (100 * i + j).toDouble))
    assert(readVar(bytes).toSeq == want)
  }

  // ----------------------------------------------------------------
  // vlen SEQUENCES and COMPOUND datatypes (r15)
  // ----------------------------------------------------------------

  /** One GCOL collection holding raw byte payloads as objects 1..n —
    * the storage vlen SEQUENCES resolve through (same layout as
    * [[gcolFor]]'s string objects).
    */
  private def gcolRawFor(w: W, values: Seq[Array[Byte]]): Long = {
    val gcol = w.pos
    w.ascii("GCOL"); w.u8(1); w.pad(3)
    val sizeAt = w.pos; w.u64(0)
    values.zipWithIndex.foreach { case (v, i) =>
      w.u16(i + 1); w.u16(1); w.pad(4); w.u64(v.length.toLong)
      w.bytes(v); w.pad((8 - v.length % 8) % 8)
    }
    w.u16(0); w.u16(0); w.pad(4); w.u64(0)
    w.patchU64(sizeAt, w.pos - gcol)
    gcol
  }

  /** datatype v1 class 9 SEQUENCE (bit field 0) over an f64 base */
  private def vlenF64SeqMsg: Array[Byte] = msgBytes { w =>
    w.u8(0x19); w.u8(0x00); w.u8(0); w.u8(0)
    w.u32(16)
    w.bytes(f64Msg)
  }

  private def f64le(x: Double): Array[Byte] =
    msgBytes(_.u64(java.lang.Double.doubleToLongBits(x)))

  /** compound datatype v1: names NUL-padded to 8, u32 offset, 28-byte
    * scalar dimensionality block, then the member datatype
    */
  private def compoundV1Msg(size: Int, members: Seq[(String, Int, Array[Byte])]): Array[Byte] =
    msgBytes { w =>
      w.u8(0x16); w.u8(members.length); w.u8(members.length >> 8); w.u8(0)
      w.u32(size.toLong)
      members.foreach { case (name, off, dt) =>
        w.ascii(name); w.u8(0); w.pad((8 - (name.length + 1) % 8) % 8)
        w.u32(off.toLong)
        w.u8(0); w.pad(3)          // dimensionality 0 (scalar member)
        w.u32(0); w.u32(0)         // permutation + reserved
        (0 until 4).foreach(_ => w.u32(0))
        w.bytes(dt)
      }
    }

  /** compound datatype v3: bare NUL-terminated names, minimal-width
    * offsets, no dimensionality block
    */
  private def compoundV3Msg(size: Int, members: Seq[(String, Int, Array[Byte])]): Array[Byte] =
    msgBytes { w =>
      w.u8(0x36); w.u8(members.length); w.u8(members.length >> 8); w.u8(0)
      w.u32(size.toLong)
      var offBytes = 1
      while ((1L << (8 * offBytes)) <= size) offBytes += 1
      members.foreach { case (name, off, dt) =>
        w.ascii(name); w.u8(0)
        w.uN(off.toLong, offBytes)
        w.bytes(dt)
      }
    }

  test("vlen f64 sequence dataset reads ragged rows through the global heap") {
    val rows = Seq(Seq(1.5, -2.25, 3.0), Seq(42.0), Seq(0.125, 8.5))
    val bytes = file { w =>
      val gcol = gcolRawFor(w, rows.map(r => r.flatMap(f64le(_)).toArray))
      val data = w.pos
      rows.zipWithIndex.foreach { case (r, i) =>
        w.u32(r.length.toLong); w.u64(gcol); w.u32((i + 1).toLong)
      }
      w.u32(0); w.u64(0); w.u32(0) // null descriptor: unwritten element
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(4))), (3, vlenF64SeqMsg),
        (8, contiguousMsg(data, 4 * 16))))
      rootFor(w, "d" -> d)
    }
    val h5 = Hdf5.parse(bytes)
    val v = h5("d")
    assert(v.dtype.cls == 9 && !v.dtype.vlenString &&
      v.dtype.base.exists(b => b.cls == 1 && b.size == 8))
    val got = Hdf5.readDoubleSeqs(bytes, v)
    assert(got.map(_.toSeq).toSeq == rows :+ Seq.empty)
    // the scalar and string paths must refuse a sequence precisely
    assert(intercept[IllegalArgumentException](Hdf5.readDoubles(bytes, v))
      .getMessage.contains("variable-length"))
    assert(intercept[IllegalArgumentException](Hdf5.readStrings(bytes, v))
      .getMessage.contains("vlen SEQUENCE"))
  }

  test("vlen sequence descriptor claiming more elements than its heap object holds is a precise error") {
    val bytes = file { w =>
      val gcol = gcolRawFor(w, Seq(f64le(1.0) ++ f64le(2.0))) // 2 doubles
      val data = w.pos
      w.u32(5); w.u64(gcol); w.u32(1) // claims 5
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, vlenF64SeqMsg),
        (8, contiguousMsg(data, 16))))
      rootFor(w, "d" -> d)
    }
    val h5 = Hdf5.parse(bytes)
    val e = intercept[IllegalArgumentException](Hdf5.readDoubleSeqs(bytes, h5("d")))
    assert(e.getMessage.contains("descriptor claims 5"), e.getMessage)
  }

  /** 20-byte compound rows: int32 id @0, f64 val @4, char[4] tag @12,
    * 4 trailing pad bytes — the pad proves the stride is the declared
    * element size, not the member sum.
    */
  private val cpdMembers = Seq(
    ("id", 0, int32Msg), ("val", 4, f64Msg), ("tag", 12, strMsg(4)))

  private def cpdRow(w: W, id: Int, v: Double, tag: String): Unit = {
    w.u32(id.toLong); w.bytes(f64le(v))
    w.ascii(tag); w.pad(4 - tag.length) // NUL-padded char[4]
    w.bytes(Array[Byte](0x7f, 0x7f, 0x7f, 0x7f)) // garbage pad, never read
  }

  private def compoundFixture(dtypeMsg: Array[Byte]): Array[Byte] = file { w =>
    val data = w.pos
    cpdRow(w, 7, 1.5, "abc"); cpdRow(w, -3, -0.25, "z"); cpdRow(w, 11, 64.0, "qrst")
    val d = v1Header(w, Seq(
      (1, dataspaceMsg(Seq(3))), (3, dtypeMsg),
      (8, contiguousMsg(data, 3 * 20))))
    rootFor(w, "d" -> d)
  }

  test("compound v1 dataset reads per-member columns at their offsets") {
    val bytes = compoundFixture(compoundV1Msg(20, cpdMembers))
    val h5 = Hdf5.parse(bytes)
    val v = h5("d")
    assert(Hdf5.compoundMembers(v) == Seq("id", "val", "tag"))
    assert(Hdf5.readCompoundDoubles(bytes, v, "id").toSeq == Seq(7.0, -3.0, 11.0))
    assert(Hdf5.readCompoundDoubles(bytes, v, "val").toSeq == Seq(1.5, -0.25, 64.0))
    assert(Hdf5.readCompoundStrings(bytes, v, "tag").toSeq == Seq("abc", "z", "qrst"))
    // precise refusals: whole-dataset scalar read, wrong-class member,
    // unknown member (naming what IS there)
    assert(intercept[IllegalArgumentException](Hdf5.readDoubles(bytes, v))
      .getMessage.contains("compound"))
    assert(intercept[IllegalArgumentException](
      Hdf5.readCompoundDoubles(bytes, v, "tag")).getMessage.contains("not numeric"))
    assert(intercept[RuntimeException](
      Hdf5.readCompoundDoubles(bytes, v, "nope")).getMessage.contains("id, val, tag"))
  }

  test("compound v3 dataset (bare names, minimal-width offsets) reads identically") {
    val bytes = compoundFixture(compoundV3Msg(20, cpdMembers))
    val h5 = Hdf5.parse(bytes)
    val v = h5("d")
    assert(Hdf5.compoundMembers(v) == Seq("id", "val", "tag"))
    assert(Hdf5.readCompoundDoubles(bytes, v, "val").toSeq == Seq(1.5, -0.25, 64.0))
    assert(Hdf5.readCompoundStrings(bytes, v, "tag").toSeq == Seq("abc", "z", "qrst"))
  }

  test("compound member overrunning the declared element size is a precise parse error") {
    val e = intercept[IllegalArgumentException] {
      Hdf5.parse(compoundFixture(compoundV1Msg(20,
        Seq(("id", 0, int32Msg), ("val", 16, f64Msg))))) // 16+8 > 20
    }
    assert(e.getMessage.contains("overruns"), e.getMessage)
  }

  /** datatype v1 class 8 ENUM over int32: names NUL-padded to 8, then
    * base-sized values back to back
    */
  private def enumI32Msg(labels: Seq[(String, Int)]): Array[Byte] = msgBytes { w =>
    w.u8(0x18); w.u8(labels.length); w.u8(labels.length >> 8); w.u8(0)
    w.u32(4)
    w.bytes(int32Msg)
    labels.foreach { case (n, _) =>
      w.ascii(n); w.u8(0); w.pad((8 - (n.length + 1) % 8) % 8)
    }
    labels.foreach { case (_, v) => w.u32(v.toLong) }
  }

  /** datatype v3 class 10 ARRAY: rank + dims, then the base */
  private def arrayMsg(dims: Seq[Int], base: Array[Byte], totalSize: Int): Array[Byte] =
    msgBytes { w =>
      w.u8(0x3a); w.u8(0); w.u8(0); w.u8(0)
      w.u32(totalSize.toLong)
      w.u8(dims.length)
      dims.foreach(d => w.u32(d.toLong))
      w.bytes(base)
    }

  test("enum dataset decodes as its base; enumLabels carries the flag legend") {
    val labels = Seq("good" -> 0, "degraded" -> 1, "bad" -> 2, "missing" -> 255)
    val values = Seq(0, 1, 255, 2, 0)
    val bytes = file { w =>
      val data = w.pos
      values.foreach(v => w.u32(v.toLong))
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(values.length.toLong))),
        (3, enumI32Msg(labels)),
        (8, contiguousMsg(data, values.length * 4L))))
      rootFor(w, "dqf" -> d)
    }
    val v = Hdf5.parse(bytes)("dqf")
    assert(v.dtype.cls == 8 && v.dtype.base.exists(_.cls == 0))
    assert(Hdf5.readDoubles(bytes, v).toSeq == values.map(_.toDouble))
    assert(Hdf5.enumLabels(v.dtype) ==
      labels.map { case (n, x) => (n, x.toDouble) })
  }

  test("compound with an array-datatype member reads per-row fixed blocks") {
    // rows: int32 band @0, f64[3] gains @4 — 28-byte elements
    val members = Seq(
      ("band", 0, int32Msg),
      ("gains", 4, arrayMsg(Seq(3), f64Msg, 24)))
    val rows = Seq((1, Seq(0.5, 1.0, 2.0)), (2, Seq(-1.0, 0.0, 4.5)))
    val bytes = file { w =>
      val data = w.pos
      rows.foreach { case (b, gs) =>
        w.u32(b.toLong); gs.foreach(g => w.bytes(f64le(g)))
      }
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(rows.length.toLong))),
        (3, compoundV3Msg(28, members)),
        (8, contiguousMsg(data, rows.length * 28L))))
      rootFor(w, "cal" -> d)
    }
    val v = Hdf5.parse(bytes)("cal")
    assert(Hdf5.compoundMembers(v) == Seq("band", "gains"))
    assert(Hdf5.readCompoundDoubles(bytes, v, "band").toSeq == Seq(1.0, 2.0))
    assert(Hdf5.readCompoundArrays(bytes, v, "gains").map(_.toSeq).toSeq ==
      rows.map(_._2))
    // the scalar member reader names the right escape hatch
    assert(intercept[IllegalArgumentException](
      Hdf5.readCompoundDoubles(bytes, v, "gains"))
      .getMessage.contains("readCompoundArrays"))
  }

  test("standalone array-datatype dataset reads per-record blocks; scalar reader names the escape hatch") {
    val bytes = file { w =>
      val data = w.pos
      (0 until 6).foreach(i => w.bytes(f64le(i.toDouble)))
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(2))),
        (3, arrayMsg(Seq(3), f64Msg, 24)),
        (8, contiguousMsg(data, 48))))
      rootFor(w, "a" -> d)
    }
    val v = Hdf5.parse(bytes)("a")
    assert(v.dtype.cls == 10 && v.dtype.arrayDims == Seq(3))
    assert(Hdf5.readArrayBlocks(bytes, v).map(_.toSeq).toSeq ==
      Seq(Seq(0.0, 1.0, 2.0), Seq(3.0, 4.0, 5.0)))
    assert(intercept[IllegalArgumentException](Hdf5.readDoubles(bytes, v))
      .getMessage.contains("readArrayBlocks"))
  }

  test("standalone int16 array-datatype dataset honors the base element size") {
    // 2 records of i16[2][2] — mixed rank, 8-byte elements
    val vals = Seq(Seq(1, -2, 300, 4), Seq(-5, 6, 7, -8000))
    val bytes = file { w =>
      val data = w.pos
      vals.flatten.foreach(x => w.u16(x & 0xffff))
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(2))),
        (3, arrayMsg(Seq(2, 2), int16Msg, 8)),
        (8, contiguousMsg(data, 16))))
      rootFor(w, "m" -> d)
    }
    val v = Hdf5.parse(bytes)("m")
    assert(v.dtype.arrayDims == Seq(2, 2))
    assert(Hdf5.readArrayBlocks(bytes, v).map(_.toSeq).toSeq ==
      vals.map(_.map(_.toDouble)))
  }

  /** Minimal dense-attribute store: one direct-root fractal heap
    * (flags=0, so no direct-block checksums) holding each serialized
    * v3 attribute message, plus a type-8 v2 name B-tree of
    * (heapId 8, msgFlags 1, creationOrder 4, nameHash 4) records.
    * Returns the Attribute Info (type 21) message body.
    */
  private def denseAttrStore(w: W, attrMsgs: Seq[Array[Byte]],
                             idTypeByte: Int = 0,
                             msgFlags: Int = 0): Array[Byte] = {
    val offSz = 4; val lenSz = 3; val idLen = 1 + offSz + lenSz
    // direct root block first: sig, ver, heap-header addr (patched),
    // then this block's own heap-space offset (0)
    val blk = w.pos
    w.ascii("FHDB"); w.u8(0)
    val hdrAddrAt = w.pos; w.u64(0)
    w.uN(0, offSz)
    val ids = attrMsgs.map { m =>
      val off = w.pos - blk
      w.bytes(m)
      msgBytes { x => x.u8(idTypeByte); x.uN(off, offSz); x.uN(m.length.toLong, lenSz) }
    }
    // heap header
    val hdr = w.pos
    w.patchU64(hdrAddrAt, hdr)
    w.ascii("FRHP"); w.u8(0)
    w.u16(idLen); w.u16(0) // no I/O filters
    w.u8(0)                // flags: no block checksums
    w.u32(4096)            // max managed object size
    (0 until 12).foreach(_ => w.u64(0)) // statistics (unread)
    w.u16(4)               // table width
    w.u64(512)             // starting block size
    w.u64(512)             // max direct size
    w.u16(32)              // max heap bits -> offSz 4
    w.u16(1)               // starting rows
    w.u64(blk)             // root = the direct block
    w.u16(1)               // current rows
    w.u32(0)
    w.patchU32(hdr + 142, w.cksum(hdr, hdr + 142))
    // type-8 name index: heapId + msgFlags(0) + creation order + hash
    val recs = ids.zipWithIndex.map { case (id, i) =>
      msgBytes { x => x.bytes(id); x.u8(msgFlags); x.u32(i.toLong); x.u32(0xabc0L + i) }
    }
    val bt = btreeV2(w, btype = 8, recSize = idLen + 9, recs)
    msgBytes { x => x.u8(0); x.u8(0); x.u64(hdr); x.u64(bt) }
  }

  /** v3 attribute message body (the dense-storage encoding). */
  private def attrV3(aname: String, dtb: Array[Byte], dims: Seq[Long],
                     payload: Array[Byte]): Array[Byte] =
    msgBytes { x =>
      val dsb = dataspaceMsg(dims)
      x.u8(3); x.u8(0)
      x.u16(aname.length + 1)
      x.u16(dtb.length); x.u16(dsb.length)
      x.u8(0) // name charset: ASCII
      x.ascii(aname); x.u8(0)
      x.bytes(dtb); x.bytes(dsb); x.bytes(payload)
    }

  test("dense attribute storage reads through the fractal heap + type-8 name index") {
    val bytes = file { w =>
      val data = w.pos
      w.u32(7)
      val attrInfo = denseAttrStore(w, Seq(
        attrV3("scale_factor", f64Msg, Seq(1), f64le(0.25)),
        attrV3("units", strMsg(8), Seq(1),
          "W m-2".getBytes("ASCII") ++ Array[Byte](0, 0, 0)),
        attrV3("valid_range", f64Msg, Seq(2),
          f64le(-1.5) ++ f64le(99.0))))
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (21, attrInfo)))
      rootFor(w, "d" -> d)
    }
    val attrs = Hdf5.parse(bytes)("d").attrs
    assert(attrs.map(_.name).toSet ==
      Set("scale_factor", "units", "valid_range"), s"$attrs")
    assert(attrs.find(_.name == "scale_factor").get.num == Seq(0.25))
    assert(attrs.find(_.name == "units").get.str == "W m-2")
    assert(attrs.find(_.name == "valid_range").get.num == Seq(-1.5, 99.0))
  }

  test("mixed-compound and vlen-sequence ATTRIBUTE values parse as named-but-empty, never misread") {
    val bytes = file { w =>
      val data = w.pos
      w.u32(7)
      // cal has a char[4] member -> NOT all-numeric -> stays empty
      val cpdPayload = msgBytes { x => x.u32(1); x.bytes(f64le(2.0)); x.ascii("ab"); x.pad(6) }
      val seqPayload = msgBytes { x => x.u32(3); x.u64(0); x.u32(0) }
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (12, attrMsgV1("cal", compoundV1Msg(20, cpdMembers), Seq(1), cpdPayload)),
        (12, attrMsgV1("chans", vlenF64SeqMsg, Seq(1), seqPayload))))
      rootFor(w, "d" -> d)
    }
    val attrs = Hdf5.parse(bytes)("d").attrs
    val cal = attrs.find(_.name == "cal")
    val chans = attrs.find(_.name == "chans")
    assert(cal.exists(a => a.num.isEmpty && a.str.isEmpty && a.fields.isEmpty), s"$cal")
    assert(chans.exists(a => a.num.isEmpty && a.str.isEmpty && a.fields.isEmpty), s"$chans")
  }

  test("all-numeric compound ATTRIBUTE decodes per-member columns; array ATTRIBUTE flattens") {
    val bytes = file { w =>
      val data = w.pos
      w.u32(7)
      // rng: 2 records of {lo int32 @0, hi f64 @4} — 12-byte elements
      val rngPayload = msgBytes { x =>
        x.u32(1); x.bytes(f64le(2.5)); x.u32((-4).toLong & 0xffffffffL); x.bytes(f64le(9.0))
      }
      // gains: one f64[3] element, flattened row-major
      val gainsPayload = msgBytes { x =>
        Seq(0.5, 1.0, -2.0).foreach(g => x.bytes(f64le(g)))
      }
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (12, attrMsgV1("rng",
          compoundV3Msg(12, Seq(("lo", 0, int32Msg), ("hi", 4, f64Msg))),
          Seq(2), rngPayload)),
        (12, attrMsgV1("gains", arrayMsg(Seq(3), f64Msg, 24), Seq(1),
          gainsPayload))))
      rootFor(w, "d" -> d)
    }
    val attrs = Hdf5.parse(bytes)("d").attrs
    val rng = attrs.find(_.name == "rng").get
    assert(rng.fields == Seq(
      "lo" -> Seq(1.0, -4.0), "hi" -> Seq(2.5, 9.0)), s"$rng")
    val gains = attrs.find(_.name == "gains").get
    assert(gains.num == Seq(0.5, 1.0, -2.0), s"$gains")
  }

  /** One dense-attribute fixture with the store knobs exposed — the
    * three r16 ADVICE paths exercise it with a HUGE-typed heap ID, a
    * constant-flagged record, and a shared-flagged record.
    */
  private def denseFixture(idTypeByte: Int = 0, msgFlags: Int = 0): Array[Byte] =
    file { w =>
      val data = w.pos
      w.u32(7)
      val attrInfo = denseAttrStore(w,
        Seq(attrV3("scale_factor", f64Msg, Seq(1), f64le(0.25))),
        idTypeByte = idTypeByte, msgFlags = msgFlags)
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (21, attrInfo)))
      rootFor(w, "d" -> d)
    }

  test("HUGE/TINY fractal-heap object IDs reject precisely, never decode as managed offsets") {
    // type bits 0x10 = HUGE: the ID body is a v2 B-tree key, so the
    // managed offset/length decode would read garbage — must reject
    val huge = intercept[IllegalArgumentException](
      Hdf5.parse(denseFixture(idTypeByte = 0x10)))
    assert(huge.getMessage.contains("huge/tiny"), huge.getMessage)
    val tiny = intercept[IllegalArgumentException](
      Hdf5.parse(denseFixture(idTypeByte = 0x20)))
    assert(tiny.getMessage.contains("huge/tiny"), tiny.getMessage)
    val ver = intercept[IllegalArgumentException](
      Hdf5.parse(denseFixture(idTypeByte = 0x40)))
    assert(ver.getMessage.contains("version"), ver.getMessage)
  }

  test("constant-flagged dense attribute parses; a SHARED record in a table-less file errors precisely") {
    // 0x01 = constant: handling policy, not body layout — must parse
    val attrs = Hdf5.parse(denseFixture(msgFlags = 0x01))("d").attrs
    assert(attrs.exists(a => a.name == "scale_factor" && a.num == Seq(0.25)),
      s"$attrs")
    // 0x02 = shared: the heap ID indexes the SOHM heap (r19 — the
    // resolving path has its own positive fixture below); this file
    // carries NO shared message table, so resolution must error
    // precisely rather than decode the ID against the wrong heap
    val shared = intercept[RuntimeException](
      Hdf5.parse(denseFixture(msgFlags = 0x02)))
    assert(shared.getMessage.contains("SOHM"), shared.getMessage)
  }

  // ----------------------------------------------------------------
  // shared messages (r19): committed targets + the SOHM table
  // ----------------------------------------------------------------

  /** v1 object header with per-message FLAGS (bit 1 = shared). */
  private def v1HeaderF(w: W, msgs: Seq[(Int, Int, Array[Byte])]): Long = {
    val start = w.pos
    val padded = msgs.map { case (t, fl, b) =>
      (t, fl, b ++ Array.fill((8 - b.length % 8) % 8)(0.toByte))
    }
    val hdrSize = padded.map(8 + _._3.length).sum
    w.u8(1); w.u8(0); w.u16(msgs.length); w.u32(1); w.u32(hdrSize.toLong); w.pad(4)
    padded.foreach { case (t, fl, b) =>
      w.u16(t); w.u16(b.length); w.u8(fl); w.pad(3); w.bytes(b)
    }
    start
  }

  /** One direct-root fractal heap holding `objs` (the denseAttrStore
    * heap shape, standalone); returns (header address, heap IDs).
    */
  private def directHeap(w: W, objs: Seq[Array[Byte]]): (Long, Seq[Array[Byte]]) = {
    val offSz = 4; val lenSz = 3; val idLen = 1 + offSz + lenSz
    val blk = w.pos
    w.ascii("FHDB"); w.u8(0)
    val hdrAddrAt = w.pos; w.u64(0)
    w.uN(0, offSz)
    val ids = objs.map { m =>
      val off = w.pos - blk
      w.bytes(m)
      msgBytes { x => x.u8(0); x.uN(off, offSz); x.uN(m.length.toLong, lenSz) }
    }
    val hdr = w.pos
    w.patchU64(hdrAddrAt, hdr)
    w.ascii("FRHP"); w.u8(0)
    w.u16(idLen); w.u16(0)
    w.u8(0)
    w.u32(4096)
    (0 until 12).foreach(_ => w.u64(0))
    w.u16(4)
    w.u64(512); w.u64(512)
    w.u16(32); w.u16(1)
    w.u64(blk)
    w.u16(1); w.u32(0)
    w.patchU32(hdr + 142, w.cksum(hdr, hdr + 142))
    (hdr, ids)
  }

  /** SOHM plumbing: shared heap + SMTB table + a v1 superblock-
    * extension header carrying the type-15 message; patches the
    * superblock extension pointer. Returns the messages' heap IDs.
    */
  private def sohmTable(w: W, msgs: Seq[Array[Byte]],
                        typeFlags: Int): Seq[Array[Byte]] = {
    val (heapHdr, ids) = directHeap(w, msgs)
    val table = w.pos
    w.ascii("SMTB")
    w.u8(0)            // version
    w.u8(1)            // index type (unread: the heap ID is the lookup)
    w.u16(typeFlags)   // message type flags
    w.u32(0)           // min message size
    w.u16(0); w.u16(0) // list / btree cutoffs
    w.u16(msgs.length)
    w.u64(Undef)       // index address (dedup structure, unread)
    w.u64(heapHdr)
    w.u32(0)
    w.patchU32(table + 34, w.cksum(table, table + 34))
    val ext = v1Header(w, Seq((15, msgBytes { x =>
      x.u8(0); x.u64(table); x.u8(1)
    })))
    w.patchU64(20, ext)
    ids
  }

  private def sharedV1(addr: Long): Array[Byte] =
    msgBytes { x => x.u8(1); x.u8(0); x.pad(6); x.u64(addr) }
  private def sharedV2(addr: Long): Array[Byte] =
    msgBytes { x => x.u8(2); x.u8(0); x.u64(addr) }
  private def sharedV3Committed(addr: Long): Array[Byte] =
    msgBytes { x => x.u8(3); x.u8(2); x.u64(addr) }
  private def sharedV3Heap(id: Array[Byte]): Array[Byte] =
    msgBytes { x => x.u8(3); x.u8(1); x.bytes(id) }

  // ----------------------------------------------------------------
  // object references (r19): the netCDF-4 dimension-scale machinery
  // ----------------------------------------------------------------

  /** datatype v1 class 7 OBJECT reference (one 8-byte address) */
  private def objRefMsg: Array[Byte] = msgBytes { w =>
    w.u8(0x17); w.u8(0); w.u8(0); w.u8(0); w.u32(8)
  }
  /** class 7 REGION reference — must reject, never misread */
  private def regionRefMsg: Array[Byte] = msgBytes { w =>
    w.u8(0x17); w.u8(1); w.u8(0); w.u8(0); w.u32(12)
  }
  /** class 9 SEQUENCE over object references (DIMENSION_LIST's type) */
  private def vlenRefSeqMsg: Array[Byte] = msgBytes { w =>
    w.u8(0x19); w.u8(0); w.u8(0); w.u8(0)
    w.u32(16)
    w.bytes(objRefMsg)
  }

  test("object references resolve to paths: DIMENSION_LIST, REFERENCE_LIST, plain refs; region refs reject") {
    val bytes = file { w =>
      val xData = w.pos; w.bytes(f64le(1.0)); w.bytes(f64le(2.0))
      val vData = w.pos; w.u32(7); w.u32(8)
      // the dimension-scale dataset "x" — referenced three ways below
      val x = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(2))), (3, f64Msg),
        (8, contiguousMsg(xData, 16))))
      // DIMENSION_LIST: one vlen descriptor whose GCOL object holds
      // one 8-byte object address
      val gcol = gcolRawFor(w, Seq(msgBytes(_.u64(x))))
      val dimListPayload = msgBytes { p => p.u32(1); p.u64(gcol); p.u32(1) }
      // REFERENCE_LIST: compound {dataset ref @0, dimension u32 @8}
      val refListPayload = msgBytes { p => p.u64(x); p.u32(0) }
      val v = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(2))), (3, int32Msg),
        (8, contiguousMsg(vData, 8)),
        (12, attrMsgV1("DIMENSION_LIST", vlenRefSeqMsg, Seq(1), dimListPayload)),
        (12, attrMsgV1("REFERENCE_LIST",
          compoundV3Msg(12, Seq(("dataset", 0, objRefMsg), ("dimension", 8, int32Msg))),
          Seq(1), refListPayload)),
        (12, attrMsgV1("ref0", objRefMsg, Seq(1), msgBytes(_.u64(x))))))
      rootFor(w, "x" -> x, "v" -> v)
    }
    val attrs = Hdf5.parse(bytes)("v").attrs
    val dl = attrs.find(_.name == "DIMENSION_LIST").get
    assert(dl.strs == Seq("x") && dl.str == "x" && dl.refAddrs.length == 1,
      s"DIMENSION_LIST did not resolve to the dim scale's path: $dl")
    val rl = attrs.find(_.name == "REFERENCE_LIST").get
    assert(rl.fields.map(_._1) == Seq("dataset", "dimension") &&
      rl.fields.head._2 == dl.num && rl.fields(1)._2 == Seq(0.0),
      s"REFERENCE_LIST member decode diverged: $rl")
    assert(attrs.find(_.name == "ref0").exists(_.strs == Seq("x")),
      "plain object-reference attr did not resolve")
    assert(readVar(bytes, "v").toSeq == Seq(7.0, 8.0),
      "reference attrs must not disturb the data read")
    // region references carry selection heap state — precise rejection
    val region = file { w =>
      val data = w.pos; w.u64(0); w.u32(0)
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, regionRefMsg),
        (8, contiguousMsg(data, 12))))
      rootFor(w, "d" -> d)
    }
    val e = intercept[IllegalArgumentException](Hdf5.parse(region))
    assert(e.getMessage.contains("region reference"), e.getMessage)
  }

  test("committed (named) datatype resolves through v1/v2/v3 shared records") {
    def build(shared: Long => Array[Byte]): Array[Byte] = file { w =>
      val data = w.pos
      w.u32(7); w.u32((-3).toLong & 0xffffffffL)
      val named = v1Header(w, Seq((3, int32Msg))) // the H5Tcommit object
      val d = v1HeaderF(w, Seq(
        (1, 0, dataspaceMsg(Seq(2))),
        (3, 0x02, shared(named)),
        (8, 0, contiguousMsg(data, 8))))
      rootFor(w, "d" -> d)
    }
    for (mk <- Seq(sharedV1 _, sharedV2 _, sharedV3Committed _))
      assert(readVar(build(mk)).toSeq == Seq(7.0, -3.0),
        "committed-datatype dataset misread")
  }

  test("SOHM-table shared datatype AND dataspace resolve from the shared fractal heap") {
    val bytes = file { w =>
      val data = w.pos
      w.u32(5); w.u32(6); w.u32(7)
      val ids = sohmTable(w, Seq(int32Msg, dataspaceMsg(Seq(3))),
        typeFlags = 0x0003) // datatype | dataspace
      val d = v1HeaderF(w, Seq(
        (1, 0x02, sharedV3Heap(ids(1))),
        (3, 0x02, sharedV3Heap(ids(0))),
        (8, 0, contiguousMsg(data, 12))))
      rootFor(w, "d" -> d)
    }
    assert(readVar(bytes).toSeq == Seq(5.0, 6.0, 7.0),
      "SOHM-heap shared messages misread")
  }

  test("SOHM-shared dense attribute record resolves; v3 location type 0 rejects precisely") {
    val bytes = file { w =>
      val data = w.pos
      w.u32(7)
      val ids = sohmTable(w,
        Seq(attrV3("scale_factor", f64Msg, Seq(1), f64le(0.25))),
        typeFlags = 0x0010) // attribute
      // a dense store whose ONLY record carries the shared bit: its
      // heap-ID field holds the SOHM heap ID, the store's own heap is
      // empty (idLen source only)
      val (denseHdr, _) = directHeap(w, Seq.empty)
      val rec = msgBytes { x =>
        x.bytes(ids.head); x.u8(0x02); x.u32(0L); x.u32(0xabc0L)
      }
      val bt = btreeV2(w, btype = 8, recSize = 8 + 9, Seq(rec))
      val attrInfo = msgBytes { x => x.u8(0); x.u8(0); x.u64(denseHdr); x.u64(bt) }
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (21, attrInfo)))
      rootFor(w, "d" -> d)
    }
    val attrs = Hdf5.parse(bytes)("d").attrs
    assert(attrs.exists(a => a.name == "scale_factor" && a.num == Seq(0.25)),
      s"SOHM-shared dense attribute misread: $attrs")
    // location type 0 ("not shared") under the shared flag is a
    // precise error, never a misparse
    val t0 = file { w =>
      val data = w.pos
      w.u32(7)
      val d = v1HeaderF(w, Seq(
        (1, 0, dataspaceMsg(Seq(1))),
        (3, 0x02, msgBytes { x => x.u8(3); x.u8(0); x.u64(0L) }),
        (8, 0, contiguousMsg(data, 4))))
      rootFor(w, "d" -> d)
    }
    val e = intercept[RuntimeException](Hdf5.parse(t0))
    assert(e.getMessage.contains("location type 0"), e.getMessage)
  }

  test("compound ATTRIBUTE with an enum-over-int member decodes as the base") {
    val labels = Seq("clear" -> 0, "cloudy" -> 1, "missing" -> 2)
    val bytes = file { w =>
      val data = w.pos
      w.u32(7)
      // {flag enum-i32 @0, v int32 @4} — 8-byte elements, 2 records
      val payload = msgBytes { x =>
        x.u32(2); x.u32(7); x.u32(0); x.u32((-3).toLong & 0xffffffffL)
      }
      val d = v1Header(w, Seq(
        (1, dataspaceMsg(Seq(1))), (3, int32Msg),
        (8, contiguousMsg(data, 4)),
        (12, attrMsgV1("qc",
          compoundV3Msg(8, Seq(("flag", 0, enumI32Msg(labels)), ("v", 4, int32Msg))),
          Seq(2), payload))))
      rootFor(w, "d" -> d)
    }
    val qc = Hdf5.parse(bytes)("d").attrs.find(_.name == "qc").get
    assert(qc.fields == Seq(
      "flag" -> Seq(2.0, 0.0), "v" -> Seq(7.0, -3.0)), s"$qc")
  }
}
