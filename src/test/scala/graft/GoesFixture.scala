package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import graft.Hdf5Writer._

/** q97's default input, generated: a small deterministic NetCDF-4
  * (HDF5) file shaped like the GOES-18 EXIS `OR_EXIS-L1b-SFXR` product.
  * It carries the eight variables [[graft.sources.NetCdf.readGoes]]
  * reads, 30 samples at a 1 s cadence. Each is a float64 `[30]`
  * dataset with a `units` attribute, chunked 16 samples to a chunk
  * (layout v4, Fixed Array index, the partial last chunk zero-padded)
  * and filtered shuffle+deflate like the real product. Values come
  * from closed forms, so specs pin q97's rows exactly.
  *
  * Unlike the real product it has no dimension scales, global
  * attributes or dense groups, and its chunk index is the v4 Fixed
  * Array where the real file uses a v1 B-tree.
  *
  * The committed copy lives in `src/main/resources/graft/goes/`;
  * regenerate it with
  * `sbt "Test/runMain graft.GoesFixture src/main/resources/graft/goes"`.
  */
object GoesFixture {

  val Samples = 30
  val ChunkSamples = 16

  /** The `s…` start stamp (sYYYYJJJHHMMSSt: 2024, day 100, 12:00:00.0
    * UTC) names the first `time` value, [[T0]].
    */
  val ProductTime = "s20241001200000"
  val FileName = s"OR_EXIS-L1b-SFXR_G18_${ProductTime}_e20241001200290_c20241001200293.nc"
  /** 2024-04-09T12:00:00Z in seconds since 2000-01-01T12:00:00Z */
  val T0 = 765936000.0
  val TimeUnits = "seconds since 2000-01-01 12:00:00"

  /** Every irradiance is an integer multiple of 2^-36 W/m² below 2^24
    * of them, so any sum of 30 is exact in float64.
    */
  private val Scale = math.pow(2, -36)

  /** q97 channel -> (source variable, base, step) */
  val Channels: Seq[(String, String, Int, Int)] = Seq(
    ("xrsa1", "irradiance_xrsa1", 1000, 40),
    ("xrsa2", "irradiance_xrsa2", 1500, 30),
    ("xrsb1", "irradiance_xrsb1", 20000, 500),
    ("xrsb2", "irradiance_xrsb2", 25000, 400),
    ("primary_b", "primary_xrsb", 20000, 500)) // the primary B channel is B1

  /** Sample i: (base + step·(7i mod 30))·2^-36. 7 is coprime to 30, so
    * each channel takes every step 0..29 once, out of time order;
    * every value lies in 1.4e-8..5.4e-7 W/m².
    */
  def irradiance(base: Int, step: Int, i: Int): Double =
    (base + step * ((7 * i) % Samples)) * Scale
  def meanIrradiance(base: Int, step: Int): Double =
    (base + step * (Samples - 1) / 2.0) * Scale
  def maxIrradiance(base: Int, step: Int): Double =
    (base + step * (Samples - 1)) * Scale

  /** (variable, units, values) in the order [[bytes]] links them */
  val variables: Seq[(String, String, Array[Double])] = {
    val n = 0 until Samples
    ("time", TimeUnits, n.map(T0 + _).toArray) +:
      Channels.map { case (_, v, base, step) =>
        (v, "W m-2", n.map(irradiance(base, step, _)).toArray)
      } :+
      ("dispersion_angle", "arcmin", n.map(i => 0.25 * (i % 8)).toArray) :+
      ("integration_time", "s", n.map(_ => 1.0).toArray)
  }

  def bytes: Array[Byte] = file { w =>
    val links = variables.map { case (name, units, values) =>
      val chunks = values.grouped(ChunkSamples).map { part =>
        val raw = ByteBuffer.allocate(ChunkSamples * 8).order(ByteOrder.LITTLE_ENDIAN)
        part.foreach(raw.putDouble) // the tail of the last chunk stays 0 (fill)
        val stored = deflate(shuffle(raw.array, 8))
        val at = w.pos
        w.bytes(stored)
        (at, stored.length.toLong, 0)
      }.toSeq
      val index = fixedArray(w, client = 1, csLen = 2, pageBits = 10, chunks)
      name -> v1Header(w, Seq(
        (1, dataspaceMsg(Seq(Samples.toLong))),
        (3, f64Msg),
        (11, shuffleDeflateFilterMsg(8)),
        (8, layoutV4Msg(0, Seq(ChunkSamples, 8), 3, index, extra = Array(10.toByte))),
        (12, attrMsgV1("units", strMsg(units.length), Seq.empty,
          units.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))))
    }
    v1Header(w, links.map { case (n, a) => (6, linkMsg(n, a)) })
  }

  /** Writes [[FileName]] into the directory given as the one argument. */
  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0)).resolve(FileName)
    Files.createDirectories(out.getParent)
    Files.write(out, bytes)
    println(s"wrote $out")
  }
}
