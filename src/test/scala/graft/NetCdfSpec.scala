package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.NetCdf

/** Classic-NetCDF reader spec. The fixtures are hand-written byte
  * streams following the public classic format spec (magic, numrecs,
  * dim/gatt/var lists, fixed data, interleaved record data) — the
  * encoder below doubles as executable documentation of the layout
  * the parser consumes. The real reference GOES sample is NetCDF-4
  * (HDF5 container) and exercises the classification seam; its cases
  * cancel when that out-of-repo file is absent. q97's default input,
  * the committed [[GoesFixture]], is pinned exactly at the end.
  */
class NetCdfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()

  private def be(f: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos) // big-endian, like the format
    f(out); out.flush(); bos.toByteArray
  }
  private def name(out: DataOutputStream, s: String): Unit = {
    out.writeInt(s.length); out.writeBytes(s)
    (0 until (4 - s.length % 4) % 4).foreach(_ => out.writeByte(0))
  }

  /** Two record vars (time double[time], flux float[time,ch]) + one
    * fixed var (lat int[ch]) + global and variable attributes.
    * Record slabs are each 8 bytes, so records interleave as
    * [time_r, flux_r] with recSize 16.
    */
  private def twoRecVarFixture: Array[Byte] = be { out =>
    out.writeBytes("CDF"); out.writeByte(1) // CDF-1
    out.writeInt(3)                         // numrecs
    out.writeInt(10); out.writeInt(2)       // NC_DIMENSION, 2 dims
    name(out, "time"); out.writeInt(0)      // dim 0: record
    name(out, "ch"); out.writeInt(2)        // dim 1
    out.writeInt(12); out.writeInt(1)       // global NC_ATTRIBUTE, 1
    name(out, "title"); out.writeInt(2)     // NC_CHAR
    out.writeInt(10); out.writeBytes("graft test"); out.writeShort(0) // pad to 12
    out.writeInt(11); out.writeInt(3)       // NC_VARIABLE, 3 vars
    name(out, "lat"); out.writeInt(1); out.writeInt(1)  // int[ch]
    out.writeInt(0); out.writeInt(0)        // no var atts
    out.writeInt(4); out.writeInt(8); out.writeInt(228) // type, vsize, begin
    name(out, "time"); out.writeInt(1); out.writeInt(0) // double[time]
    out.writeInt(0); out.writeInt(0)
    out.writeInt(6); out.writeInt(8); out.writeInt(236)
    name(out, "flux"); out.writeInt(2)      // float[time,ch]
    out.writeInt(0); out.writeInt(1)
    out.writeInt(12); out.writeInt(1)       // 1 var att
    name(out, "_FillValue"); out.writeInt(5); out.writeInt(1)
    out.writeFloat(-999f)
    out.writeInt(5); out.writeInt(8); out.writeInt(244)
    // data — fixed vars first
    out.writeInt(10); out.writeInt(20)                  // lat @228
    // record data: [time_r (8B), flux_r (8B)] per record
    out.writeDouble(100.0); out.writeFloat(1.5f); out.writeFloat(2.5f)
    out.writeDouble(101.0); out.writeFloat(3.5f); out.writeFloat(-999f)
    out.writeDouble(102.0); out.writeFloat(5.5f); out.writeFloat(6.5f)
  }

  /** SINGLE record variable with a 6-byte slab (short[time,s], s=3):
    * the classic format's special case — the lone record var's slabs
    * are NOT padded to 4, so recSize is 6, not 8.
    */
  private def singleRecVarFixture: Array[Byte] = be { out =>
    out.writeBytes("CDF"); out.writeByte(1)
    out.writeInt(2)                         // numrecs
    out.writeInt(10); out.writeInt(2)
    name(out, "time"); out.writeInt(0)
    name(out, "s"); out.writeInt(3)
    out.writeInt(0); out.writeInt(0)        // no global atts (ABSENT)
    out.writeInt(11); out.writeInt(1)
    name(out, "temp"); out.writeInt(2)
    out.writeInt(0); out.writeInt(1)
    out.writeInt(0); out.writeInt(0)
    out.writeInt(3); out.writeInt(8); out.writeInt(96) // short, vsize pad4(6)=8
    Seq(1, 2, 3, 4, 5, 6).foreach(out.writeShort)      // 2 records × 6 bytes
  }

  /** CDF-2 twin of the single-record fixture: magic `CDF\x02` and
    * 64-bit begin offsets — everything else identical. Header grows by
    * 4 bytes (one var, one widened begin), so data starts at 100.
    */
  private def cdf2Fixture: Array[Byte] = be { out =>
    out.writeBytes("CDF"); out.writeByte(2)
    out.writeInt(2)
    out.writeInt(10); out.writeInt(2)
    name(out, "time"); out.writeInt(0)
    name(out, "s"); out.writeInt(3)
    out.writeInt(0); out.writeInt(0)
    out.writeInt(11); out.writeInt(1)
    name(out, "temp"); out.writeInt(2)
    out.writeInt(0); out.writeInt(1)
    out.writeInt(0); out.writeInt(0)
    out.writeInt(3); out.writeInt(8); out.writeLong(100L) // 64-bit begin
    Seq(1, 2, 3, 4, 5, 6).foreach(out.writeShort)
  }

  private val goesSample =
    "/root/reference/obdi-opensourcedatapipeline-main/test_downloads/" +
      "OR_EXIS-L1b-SFXR_G18_s20231160000599_e20231160001294_c20231160001297.nc"

  test("fixture layout matches the hand-computed offsets") {
    assert(twoRecVarFixture.length == 284, s"got ${twoRecVarFixture.length}")
    assert(singleRecVarFixture.length == 108, s"got ${singleRecVarFixture.length}")
  }

  test("header parse: dims, attributes, variables, types") {
    val nc = NetCdf.parseHeader(twoRecVarFixture)
    assert(nc.version == 1 && nc.numRecs == 3)
    assert(nc.dims == Seq(NetCdf.NcDim("time", 0), NetCdf.NcDim("ch", 2)))
    assert(nc.gatts.head.name == "title" && nc.gatts.head.str == "graft test")
    assert(nc.vars.map(_.name) == Seq("lat", "time", "flux"))
    val flux = nc.vars.find(_.name == "flux").get
    assert(flux.ncType == 5 && flux.dimIds == Seq(0, 1))
    assert(flux.atts.head.name == "_FillValue" &&
      flux.atts.head.num == Seq(-999.0))
  }

  test("variable data: fixed, interleaved records, single-record-var padding") {
    val nc = NetCdf.parseHeader(twoRecVarFixture)
    assert(NetCdf.readVarDoubles(twoRecVarFixture, nc, "lat").toSeq ==
      Seq(10.0, 20.0))
    assert(NetCdf.readVarDoubles(twoRecVarFixture, nc, "time").toSeq ==
      Seq(100.0, 101.0, 102.0))
    assert(NetCdf.readVarDoubles(twoRecVarFixture, nc, "flux").toSeq ==
      Seq(1.5, 2.5, 3.5, -999.0, 5.5, 6.5))
    val nc1 = NetCdf.parseHeader(singleRecVarFixture)
    assert(NetCdf.readVarDoubles(singleRecVarFixture, nc1, "temp").toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
  }

  test("CDF-2 (64-bit offsets) parses identically") {
    assert(cdf2Fixture.length == 112, s"got ${cdf2Fixture.length}")
    assert(NetCdf.classify(cdf2Fixture) == NetCdf.FormatClassic64)
    val nc = NetCdf.parseHeader(cdf2Fixture)
    assert(nc.version == 2 && nc.vars.head.begin == 100L)
    assert(NetCdf.readVarDoubles(cdf2Fixture, nc, "temp").toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
  }

  test("classify: classic fixtures vs the real HDF5-based GOES sample") {
    assert(NetCdf.classify(twoRecVarFixture) == NetCdf.FormatClassic)
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    assert(NetCdf.classify(Files.readAllBytes(Paths.get(goesSample))) ==
      NetCdf.FormatHdf5)
  }

  test("binaryFile plumbing: describe surfaces classic AND real HDF5 variables") {
    val dir = Files.createTempDirectory("graft_nc")
    Files.write(dir.resolve("a.nc"), twoRecVarFixture)
    Files.write(dir.resolve("b.nc"), singleRecVarFixture)
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    Files.copy(Paths.get(goesSample), dir.resolve("goes.nc"))
    val rows = NetCdf.describe(spark, s"$dir/*.nc").collect()
    val classicVars = rows.filter(_.getString(1) == NetCdf.FormatClassic)
      .map(_.getString(2)).toSet
    assert(classicVars == Set("lat", "time", "flux", "temp"))
    // the NetCDF-4/HDF5 file now yields REAL per-variable rows
    val h5Vars = rows.filter(_.getString(1) == NetCdf.FormatHdf5)
      .map(_.getString(2)).toSet
    assert(h5Vars.size == 63, s"expected 63 GOES variables, got ${h5Vars.size}")
    assert(Set("time", "irradiance_xrsa1", "irradiance_xrsb2", "primary_xrsb",
      "dispersion_angle", "integration_time").subsetOf(h5Vars))
  }

  test("binaryFile plumbing: long-form variable extraction feeds (var, time, value)") {
    val dir = Files.createTempDirectory("graft_nc_var")
    Files.write(dir.resolve("a.nc"), twoRecVarFixture)
    val flux = NetCdf.readVariable(spark, s"$dir/*.nc", "flux")
    val vals = flux.orderBy("idx").collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(vals == Seq(0L -> 1.5, 1L -> 2.5, 2L -> 3.5, 3L -> -999.0,
      4L -> 5.5, 5L -> 6.5))
    // the q22-normalize feed shape: join the record's time coordinate
    // (idx div ch) to each flux sample → (var, time, value)
    import org.apache.spark.sql.functions._
    val time = NetCdf.readVariable(spark, s"$dir/*.nc", "time")
      .select(col("idx").as("rec"), col("value").as("t"))
    val joined = flux.withColumn("rec", expr("idx div 2"))
      .join(time, "rec")
      .select(col("var_name"), col("t"), col("value"))
      .orderBy("t", "value").collect()
    assert(joined.length == 6 && joined.head.getDouble(1) == 100.0)
  }

  // ----- the real GOES NetCDF-4 (HDF5) sample, decoded end-to-end -----

  test("HDF5: parse the real GOES sample — dense group, 63 datasets") {
    // 63 = the name B-tree's total-record count: 62 leaf records plus
    // one record stored in the depth-1 internal node itself
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    val bytes = Files.readAllBytes(Paths.get(goesSample))
    val h5 = graft.sources.Hdf5.parse(bytes)
    assert(h5.vars.length == 63, s"got ${h5.vars.length}")
    val time = h5("time")
    assert(time.dims == Seq(30L) && time.dtype.cls == 1 && time.dtype.size == 8)
    assert(time.layout.kind == "chunked" &&
      time.filters.map(_.id).sorted == Seq(1, 2), // deflate + shuffle
      s"layout=${time.layout.kind} filters=${time.filters}")
    // attributes decode too: the time units string pins the epoch
    val units = time.attrs.find(_.name == "units").map(_.str).getOrElse("")
    assert(units.contains("seconds since 2000-01-01 12:00:00"), s"units='$units'")
  }

  test("HDF5: chunked+shuffle+deflate data decodes to physical values") {
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    val bytes = Files.readAllBytes(Paths.get(goesSample))
    val h5 = graft.sources.Hdf5.parse(bytes)
    val t = graft.sources.Hdf5.readDoubles(bytes, h5("time"))
    assert(t.length == 30)
    // filename stamp s20231160000599 = 2023 day-116 00:00:59.9 UTC;
    // values are seconds since J2000 (2000-01-01T12:00:00Z)
    assert(math.abs(t(0) - 735739259.947841) < 1e-5, s"t0=${t(0)}")
    assert(t.sliding(2).forall(p => p(1) > p(0)), "time must be monotonic")
    assert(math.abs((t(29) - t(0)) - 29.0) < 0.01, "1-second cadence")
    val xa1 = graft.sources.Hdf5.readDoubles(bytes, h5("irradiance_xrsa1"))
    assert(xa1.length == 30 && xa1.forall(v => v > 1e-9 && v < 1e-5),
      s"irradiance out of physical range: ${xa1.take(3).toSeq}")
    // 2-D fixed-size char labels
    val labels = graft.sources.Hdf5.readStrings(bytes,
      h5("solar_array_current_channel_index_label"))
    assert(labels.length == 4 && labels.head == "EPS_SA_CHAN_1_4_RETRN_I",
      labels.toSeq.toString)
  }

  test("HDF5: readVariable long-form extraction works on NetCDF-4 input") {
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    val dir = Files.createTempDirectory("graft_nc_h5")
    Files.copy(Paths.get(goesSample), dir.resolve("goes.nc"))
    val rows = NetCdf.readVariable(spark, s"$dir/*.nc", "integration_time")
      .orderBy("idx").collect()
    assert(rows.length == 30)
    assert(rows.forall { r => val v = r.getDouble(3); v > 0 && v < 10 },
      "integration_time should be a small positive number of seconds")
  }

  test("HDF5: readGoes yields the reference ETL's record shape") {
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    val dir = Files.createTempDirectory("graft_nc_goes")
    Files.copy(Paths.get(goesSample), dir.resolve(
      "OR_EXIS-L1b-SFXR_G18_s20231160000599_e20231160001294_c20231160001297.nc"))
    val df = NetCdf.readGoes(spark, s"$dir/*.nc")
    assert(df.columns.toSeq == Seq("path", "product_time", "time",
      "irradiance_xrsa1", "irradiance_xrsa2", "irradiance_xrsb1",
      "irradiance_xrsb2", "primary_xrsb", "dispersion_angle",
      "integration_time"))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 30)
    assert(rows.head.getString(1) == "s20231160000599")
    // J2000 + 735739259.94… = 2023-04-26T00:00:59Z
    assert(rows.head.getLong(2) == 1682467259L, s"epoch=${rows.head.getLong(2)}")
    assert(rows.last.getLong(2) == 1682467288L)
    assert(rows.forall(r => r.getDouble(3) > 0), "xrsa1 populated from file")
  }

  test("q97 goes irradiance: per-channel summary off the real sample (rows-only oracle)") {
    assume(Files.exists(Paths.get(goesSample)), "reference sample absent")
    val rows = NetCdf.goesIrradiance(spark, goesSample).collect()
    assert(rows.length == 5, s"expected 5 channels, got ${rows.length}")
    val byChannel = rows.map(r => r.getString(1) ->
      (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(byChannel.keySet ==
      Set("xrsa1", "xrsa2", "xrsb1", "xrsb2", "primary_b"))
    assert(byChannel.values.forall(_._1 == 30L), "30 samples per channel")
    // X-ray irradiance on a quiet-sun day: ~1e-8..1e-6 W/m² per channel
    Seq("xrsa1", "xrsa2", "xrsb1", "xrsb2").foreach { c =>
      val (_, avgIrr, maxIrr) = byChannel(c)
      assert(avgIrr > 1e-9 && avgIrr < 1e-5, s"$c avg=$avgIrr")
      assert(maxIrr >= avgIrr, s"$c max<avg")
    }
    assert(rows.forall(_.getString(0) == "s20231160000599"))
  }

  // ----- q97's default input: the committed GOES-shaped fixture -----

  test("q97 goes irradiance: per-channel summary off the committed fixture (rows-only oracle)") {
    val rows = NetCdf.goesIrradiance(spark).collect()
    assert(rows.length == 5, s"expected 5 channels, got ${rows.length}")
    val byChannel = rows.map(r => r.getString(1) -> r).toMap
    assert(byChannel.keySet == GoesFixture.Channels.map(_._1).toSet)
    GoesFixture.Channels.foreach { case (c, _, base, step) =>
      val r = byChannel(c)
      assert(r.getString(0) == GoesFixture.ProductTime, c)
      assert(r.getLong(2) == GoesFixture.Samples.toLong, s"$c n")
      assert(r.getDouble(3) == GoesFixture.meanIrradiance(base, step), s"$c avg")
      assert(r.getDouble(4) == GoesFixture.maxIrradiance(base, step), s"$c max")
    }
    // the file name's sYYYYJJJHHMMSSt stamp is its first time value
    val stamp = GoesFixture.ProductTime
    val stampEpoch = java.time.LocalDate.ofYearDay(stamp.slice(1, 5).toInt, stamp.slice(5, 8).toInt)
      .atTime(stamp.slice(8, 10).toInt, stamp.slice(10, 12).toInt, stamp.slice(12, 14).toInt)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val times = NetCdf.readGoes(spark, NetCdf.goesSampleGlob)
      .orderBy("time").collect().map(_.getLong(2))
    assert(times.toSeq == (0 until GoesFixture.Samples).map(stampEpoch + _))
  }

  test("GOES fixture: the committed file decodes to what the generator writes") {
    import graft.sources.Hdf5
    val url = getClass.getResource(s"/${NetCdf.GoesSampleResource}/${GoesFixture.FileName}")
    assert(url != null, s"${GoesFixture.FileName} missing from the class path")
    // decoded content, not bytes: deflate output differs across zlib builds
    def decoded(bytes: Array[Byte]) = Hdf5.parse(bytes).vars.map { v =>
      (v.name, v.dims, v.dtype, v.layout.kind, v.layout.chunkDims,
        v.layout.v4.map(_.indexType), v.filters,
        v.attrs.find(_.name == "units").map(_.str),
        Hdf5.readDoubles(bytes, v).toSeq)
    }
    val committed = decoded(Files.readAllBytes(Paths.get(url.toURI)))
    assert(committed == decoded(GoesFixture.bytes))
    assert(committed.map(v => (v._1, v._8, v._9)) ==
      GoesFixture.variables.map { case (n, u, vs) => (n, Some(u), vs.toSeq) })
    committed.foreach { v =>
      assert(v._2 == Seq(GoesFixture.Samples.toLong) && v._4 == "chunked" &&
        v._7.map(_.id) == Seq(2, 1), s"${v._1}: dims ${v._2}, ${v._4}, filters ${v._7}")
    }
  }
}
