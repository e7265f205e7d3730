package graft

/** Dump `.explain("formatted")` for declared queries:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2|all]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Queries whose
  * operators run bounded eager jobs at plan construction (trainers,
  * checkpointed dictionaries) run them here exactly as when they are
  * executed. Per-job and per-layer timings come from `perfbench/`
  * (`--trace 1`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names: Seq[String] =
      if (args.length < 4 || args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(t) => s"ERROR: $t" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $n")
    }
    spark.stop()
  }
}
