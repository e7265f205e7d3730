package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump every selected query's result for one table dir, plus the
    * oracle SQL map — the unit both [[Verify.main]] (one corpus) and
    * [[VerifySweep.main]] (a root of fuzz corpora) drive. A failing
    * query is reported and the others still dump; returns the names of
    * the queries that failed.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    // dev-loop filter (driver never sets it): SPARK_GRAFT_ONLY=q69_spend_deciles
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only.contains(k) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  /** Exit 1 naming every failed query, after the session is stopped. */
  private[graft] def exitOnFailures(failed: Seq[String]): Unit =
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // one shared tuning block (Engine.builder) — Verify must run under
    // exactly the optimizer settings the library is tested with
    val spark = Engine.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir)
    spark.stop()
    exitOnFailures(failed)
  }
}

/** Randomized-data oracle sweep runner (round 12): one JVM over every
  * corpus subdir tools/gen_fuzz.py generated — per-seed JVM startup
  * would dominate an N-seed sweep. Each `ROOT/sN` gets its dumps at
  * `OUTROOT/sN`, then tools/check.py grades each pair (the same
  * parity gate as the driver's); tools/fuzz_sweep.sh is the
  * end-to-end wrapper. Property-style coverage the fixed corpora
  * can't give: empty strings, unicode, single-row tables,
  * all-duplicate corpora — the round-1 histogram-overflow class,
  * found cheap.
  */
object VerifySweep {
  def main(args: Array[String]): Unit = {
    val Array(root, outRoot) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Engine.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dirs = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).sorted
    require(dirs.nonEmpty, s"no corpus subdirs under $root")
    val failed = dirs.toSeq.flatMap { d =>
      println(s"[verify-sweep] $d")
      Verify.dump(spark, s"$root/$d", s"$outRoot/$d").map(q => s"$d/$q")
    }
    spark.stop()
    Verify.exitOnFailures(failed)
  }
}
