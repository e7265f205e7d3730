package graft.sources

import java.nio.ByteBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Classic-format NetCDF reader over the `binaryFile` source — the
  * ingestion path for the reference's satellite ETL, which downloads
  * GOES `.nc` products and extracts named variables into (time,
  * value) records (reference goes_satellite_etl.py:133-388).
  *
  * Scope: this file parses the CLASSIC NetCDF container (CDF-1 magic
  * `CDF\x01`, CDF-2 `CDF\x02` with 64-bit offsets) in pure JVM code
  * from the public format spec — header (dimensions, attributes,
  * variables) and full variable data for all six primitive types,
  * fixed and record variables. NetCDF-4 files are HDF5 containers
  * (magic `\x89HDF`; the reference's real GOES sample is one) and
  * route through [[Hdf5]], a from-scratch reader of the HDF5 feature
  * subset netCDF-4 uses (dense/compact/old-style groups, chunked v1
  * B-tree storage, shuffle+deflate+fletcher32 filters) — so
  * [[describe]] and [[readVariable]] return REAL variable rows and
  * values for both container generations, and [[readGoes]] extracts
  * the exact record shape the reference's satellite ETL builds.
  *
  * Scale shape: files are the unit of parallelism — `binaryFile`
  * distributes (path, content) rows across executors and each file
  * parses independently, exactly like any other codec; a 100 TB GOES
  * archive is millions of ~MB files, so the stage scales with
  * executor count and no shuffle happens until the caller aggregates.
  */
object NetCdf {

  final case class NcDim(name: String, size: Int) // size 0 = record dim
  final case class NcAtt(name: String, ncType: Int, num: Seq[Double], str: String)
  final case class NcVar(name: String, ncType: Int, dimIds: Seq[Int],
                         atts: Seq[NcAtt], begin: Long)
  final case class NcFile(version: Int, numRecs: Int, dims: Seq[NcDim],
                          gatts: Seq[NcAtt], vars: Seq[NcVar]) {
    def dimsOf(v: NcVar): Seq[NcDim] = v.dimIds.map(dims)
    def isRecord(v: NcVar): Boolean = v.dimIds.headOption.exists(dims(_).size == 0)
  }

  val FormatClassic = "classic"
  val FormatClassic64 = "classic64"
  val FormatHdf5 = "hdf5"
  val FormatUnknown = "unknown"

  /** Container sniff from magic bytes: classic CDF-1/2, HDF5-based
    * NetCDF-4, or unknown.
    */
  def classify(bytes: Array[Byte]): String =
    if (bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F')
      bytes(3) match {
        case 1 => FormatClassic
        case 2 => FormatClassic64
        case _ => FormatUnknown
      }
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 &&
      bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F') FormatHdf5
    else FormatUnknown

  private val NcDimension = 10
  private val NcVariable = 11
  private val NcAttribute = 12

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 => 1 // byte, char
    case 3     => 2 // short
    case 4 | 5 => 4 // int, float
    case 6     => 8 // double
    case other => sys.error(s"unknown nc_type $other")
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  /** Parse the classic header. Throws on non-classic input — callers
    * route through [[classify]] first.
    */
  def parseHeader(bytes: Array[Byte]): NcFile = {
    val buf = ByteBuffer.wrap(bytes) // JVM ByteBuffers default to big-endian
    require(buf.get() == 'C' && buf.get() == 'D' && buf.get() == 'F',
      "not a classic NetCDF file")
    val version = buf.get().toInt
    require(version == 1 || version == 2, s"unsupported CDF version $version")
    val numRecs = buf.getInt // -1 = streaming; resolved in readVarDoubles

    def readName(): String = {
      val n = buf.getInt
      val b = new Array[Byte](n)
      buf.get(b)
      buf.position(buf.position() + ((4 - n % 4) % 4))
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    }
    // a list is (tag, count) — or ABSENT, encoded as (0, 0)
    def readListCount(expectedTag: Int): Int = {
      val tag = buf.getInt
      val count = buf.getInt
      require(tag == expectedTag || (tag == 0 && count == 0),
        s"bad list tag $tag (expected $expectedTag)")
      count
    }
    def readAtts(): Seq[NcAtt] = (0 until readListCount(NcAttribute)).map { _ =>
      val name = readName()
      val t = buf.getInt
      val n = buf.getInt
      val raw = new Array[Byte](n * typeSize(t))
      buf.get(raw)
      buf.position(buf.position() + ((4 - raw.length % 4) % 4).toInt)
      val vb = ByteBuffer.wrap(raw)
      if (t == 2) NcAtt(name, t, Seq.empty,
        new String(raw, java.nio.charset.StandardCharsets.UTF_8))
      else {
        val nums = (0 until n).map { _ =>
          t match {
            case 1 => vb.get().toDouble
            case 3 => vb.getShort.toDouble
            case 4 => vb.getInt.toDouble
            case 5 => vb.getFloat.toDouble
            case 6 => vb.getDouble
          }
        }
        NcAtt(name, t, nums, "")
      }
    }

    val dims = (0 until readListCount(NcDimension)).map { _ =>
      NcDim(readName(), buf.getInt)
    }
    val gatts = readAtts()
    val vars = (0 until readListCount(NcVariable)).map { _ =>
      val name = readName()
      val ndims = buf.getInt
      val dimIds = (0 until ndims).map(_ => buf.getInt)
      val atts = readAtts()
      val t = buf.getInt
      buf.getInt // vsize: redundant (recomputed below); also wrong for >2 GiB vars
      val begin =
        if (version == 1) buf.getInt.toLong & 0xffffffffL else buf.getLong
      NcVar(name, t, dimIds, atts, begin)
    }
    NcFile(version, numRecs, dims, gatts, vars)
  }

  /** Per-record slab size of a record variable (non-record dims ×
    * type size), unpadded.
    */
  private def slabBytes(nc: NcFile, v: NcVar): Long =
    nc.dimsOf(v).filter(_.size != 0).map(_.size.toLong).product * typeSize(v.ncType)

  /** Flattened values of one variable as doubles, row-major with the
    * record dimension outermost — NC_CHAR yields per-byte code
    * points. Handles the record-interleaving layout: each record is a
    * slab per record variable in header order, slabs padded to 4
    * bytes UNLESS there is exactly one record variable (the classic
    * format's special case).
    */
  def readVarDoubles(bytes: Array[Byte], nc: NcFile, varName: String): Array[Double] = {
    val v = nc.vars.find(_.name == varName)
      .getOrElse(sys.error(s"no variable $varName; have ${nc.vars.map(_.name)}"))
    val ts = typeSize(v.ncType)
    def readAt(offset: Long, count: Long): Iterator[Double] = {
      val vb = ByteBuffer.wrap(bytes, offset.toInt, (count * ts).toInt)
      (0L until count).iterator.map { _ =>
        v.ncType match {
          case 1 | 2 => vb.get().toDouble
          case 3     => vb.getShort.toDouble
          case 4     => vb.getInt.toDouble
          case 5     => vb.getFloat.toDouble
          case 6     => vb.getDouble
        }
      }
    }
    if (!nc.isRecord(v)) {
      val count = nc.dimsOf(v).map(_.size.toLong).product
      readAt(v.begin, count).toArray
    } else {
      val recVars = nc.vars.filter(nc.isRecord)
      val recSize =
        if (recVars.size == 1) slabBytes(nc, v)
        else recVars.map(rv => pad4(slabBytes(nc, rv))).sum
      val slabCount = slabBytes(nc, v) / ts
      val numRecs =
        if (nc.numRecs >= 0) nc.numRecs
        else { // streaming count: infer from file length
          val firstBegin = recVars.map(_.begin).min
          ((bytes.length - firstBegin) / recSize).toInt
        }
      (0 until numRecs).iterator
        .flatMap(r => readAt(v.begin + r.toLong * recSize, slabCount))
        .toArray
    }
  }

  /** One metadata row per variable per file under `glob` — classic
    * files via the CDF header parse, NetCDF-4/HDF5 files via
    * [[Hdf5.parse]] (`nc_type` mapped from the HDF5 datatype class:
    * float→5/6 by width, fixed-point→1/3/4 by width, string→2), and
    * unknown containers as one row with null variable columns.
    * Distributed per file.
    */
  /** Expand a glob to concrete file paths driver-side before handing
    * it to `binaryFile`. Spark's FileStreamSink metadata probe
    * WARN-logs a full stack trace when given an unresolved glob (it
    * tries the glob's parent as a streaming-sink directory and logs
    * the resulting failure); resolving here keeps driver/bench stdout
    * clean and costs only the one listing the scan does anyway. An
    * empty match falls through to the original glob so the source
    * raises its usual PATH_NOT_FOUND instead of a confusing
    * zero-path error.
    */
  private def resolveGlob(spark: SparkSession, glob: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty) Seq(glob) else matched.map(_.getPath.toString)
  }

  def describe(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(resolveGlob(spark, glob): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        classify(bytes) match {
          case f @ (FormatClassic | FormatClassic64) =>
            val nc = parseHeader(bytes)
            nc.vars.map { v =>
              (path, f, v.name, v.ncType,
                nc.dimsOf(v).map(_.name).mkString(","),
                v.atts.size.toLong)
            }
          case FormatHdf5 =>
            Hdf5.parse(bytes).vars.map { v =>
              val ncType = v.dtype.cls match {
                case 1 => if (v.dtype.size == 8) 6 else 5
                case 3 => 2
                case _ => v.dtype.size match {
                  case 1 => 1
                  case 2 => 3
                  case _ => 4
                }
              }
              (path, FormatHdf5, v.name, ncType,
                v.dims.mkString(","), v.attrs.size.toLong)
            }
          case other =>
            Seq((path, other, null: String, -1, null: String, 0L))
        }
      }
      .toDF("path", "format", "var_name", "nc_type", "dims", "n_atts")
  }

  /** Long-form variable extraction: one row per scalar value of
    * `varName` across every file under `glob` — classic AND
    * NetCDF-4/HDF5 — the (var, index, value) feed for the q22-style
    * normalize stage. Files without the variable contribute no rows.
    */
  def readVariable(spark: SparkSession, glob: String, varName: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(resolveGlob(spark, glob): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        classify(bytes) match {
          case FormatClassic | FormatClassic64 =>
            val nc = parseHeader(bytes)
            if (nc.vars.exists(_.name == varName))
              readVarDoubles(bytes, nc, varName).iterator.zipWithIndex
                .map { case (value, i) => (path, varName, i.toLong, value) }
                .toSeq
            else Seq.empty
          case FormatHdf5 =>
            val h5 = Hdf5.parse(bytes)
            h5.vars.find(_.name == varName) match {
              case Some(v) =>
                Hdf5.readDoubles(bytes, v).iterator.zipWithIndex
                  .map { case (value, i) => (path, varName, i.toLong, value) }
                  .toSeq
              case None => Seq.empty
            }
          case _ => Seq.empty
        }
      }
      .toDF("path", "var_name", "idx", "value")
  }

  /** The reference ETL's record shape, straight off real GOES
    * NetCDF-4 products: one row per time point carrying the exact
    * `required_columns` of goes_satellite_etl.py:144-148 —
    * `product_time` (the file's `sYYYYJJJHHMMSSs` start stamp),
    * `time` as a Unix epoch (the files store seconds since the
    * J2000 epoch 2000-01-01T12:00:00Z, per the variable's `units`
    * attribute), the four channel irradiances, `primary_xrsb`,
    * `dispersion_angle` and `integration_time`. Files missing a
    * variable contribute zeros for it, mirroring the ETL's
    * `np.zeros(len(times))` fallback. Distributed per file.
    */
  def readGoes(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val J2000EpochSec = 946728000L // 2000-01-01T12:00:00Z
    spark.read.format("binaryFile").load(resolveGlob(spark, glob): _*)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        if (classify(bytes) != FormatHdf5) Seq.empty
        else {
          val h5 = Hdf5.parse(bytes)
          val times = Hdf5.readDoubles(bytes, h5("time"))
          def varOrZeros(name: String): Array[Double] =
            h5.vars.find(_.name == name)
              .map(Hdf5.readDoubles(bytes, _))
              .getOrElse(new Array[Double](times.length))
          val fileName = path.substring(path.lastIndexOf('/') + 1)
          val productTime = fileName.split('_')
            .find(p => p.length > 1 && p.charAt(0) == 's' && p.drop(1).forall(_.isDigit))
            .getOrElse("unknown")
          val xa1 = varOrZeros("irradiance_xrsa1"); val xa2 = varOrZeros("irradiance_xrsa2")
          val xb1 = varOrZeros("irradiance_xrsb1"); val xb2 = varOrZeros("irradiance_xrsb2")
          val pxb = varOrZeros("primary_xrsb"); val disp = varOrZeros("dispersion_angle")
          val integ = varOrZeros("integration_time")
          times.indices.map { i =>
            (path, productTime, J2000EpochSec + times(i).toLong,
              xa1(i), xa2(i), xb1(i), xb2(i), pxb(i), disp(i), integ(i))
          }
        }
      }
      .toDF("path", "product_time", "time",
        "irradiance_xrsa1", "irradiance_xrsa2", "irradiance_xrsb1",
        "irradiance_xrsb2", "primary_xrsb", "dispersion_angle",
        "integration_time")
  }

  /** Class-path directory of q97's default input. */
  val GoesSampleResource = "graft/goes"

  /** q97's default input: every `.nc` file in the [[GoesSampleResource]]
    * directory on the class path. The repo commits one there, a small
    * synthetic NetCDF-4 file shaped like the GOES-18 EXIS
    * `OR_EXIS-L1b-SFXR` product (the eight variables [[readGoes]]
    * reads, 30 samples at a 1 s cadence, chunked shuffle+deflate),
    * generated by the test helper `graft.GoesFixture`. It is NOT real
    * GOES data. Resolved from the class loader, so the working
    * directory does not matter; a class path that packs the resource
    * into a jar has no plain file to glob, and fails here naming it —
    * pass [[goesIrradiance]] an explicit glob then.
    */
  def goesSampleGlob: String = {
    val url = Option(getClass.getClassLoader.getResource(GoesSampleResource))
      .getOrElse(sys.error(s"class-path resource '$GoesSampleResource' (q97's " +
        "default GOES input) not found; pass goesIrradiance an explicit glob"))
    require(url.getProtocol == "file",
      s"class-path resource '$GoesSampleResource' (q97's default GOES input) is " +
        s"$url, not a plain directory; pass goesIrradiance an explicit glob")
    s"${java.nio.file.Paths.get(url.toURI)}/*.nc"
  }

  /** q97: per-channel irradiance summary over GOES NetCDF-4 products —
    * the aggregate the reference's Druid/Superset layer charts from
    * the satellite ETL's Kafka records (README.md:277's dashboard
    * path), computed here straight off the files. Long-form
    * (product_time, channel, n, avg, max) — one row per X-ray
    * channel. By default it reads the committed synthetic fixture
    * ([[goesSampleGlob]]); pass `glob` to read real products. Rows-only
    * by necessity: the DuckDB oracle cannot read HDF5 containers, so
    * NetCdfSpec pins the values instead — exactly on the fixture, and
    * by channel count, 30-sample cadence and physical W/m² range on the
    * real sample when that file is present.
    *
    * Scale shape: [[readGoes]] parallelizes by file; this adds one
    * (product_time, channel)-keyed map-side-combined aggregate —
    * a fleet of years of 1-minute GOES products rolls up with no
    * shuffle larger than (files × channels) rows.
    */
  def goesIrradiance(spark: SparkSession,
                     glob: String = goesSampleGlob): DataFrame = {
    import org.apache.spark.sql.functions._
    readGoes(spark, glob)
      .select(col("product_time"), expr(
        """stack(5,
             'xrsa1', irradiance_xrsa1, 'xrsa2', irradiance_xrsa2,
             'xrsb1', irradiance_xrsb1, 'xrsb2', irradiance_xrsb2,
             'primary_b', primary_xrsb) AS (channel, irr)"""))
      .groupBy(col("product_time"), col("channel"))
      .agg(count(lit(1)).as("n"), avg(col("irr")).as("avg_irr"),
        max(col("irr")).as("max_irr"))
      .orderBy(col("product_time"), col("channel"))
  }
}
