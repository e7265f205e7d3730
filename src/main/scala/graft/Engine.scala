package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's tuned defaults.
  *
  * Local runs use `local[N]`; on a real cluster the same conf applies
  * except parallelism-related knobs scale with the executor count
  * (AQE coalesces shuffle partitions at runtime, so an over-provisioned
  * `spark.sql.shuffle.partitions` is corrected automatically).
  */
object Engine {

  /** Shared tuning applied to every session (batch, streaming, tests).
    * [[graft.functions.GraftExtensions]] puts graft's native functions
    * in every session state built from it: the session itself, each
    * `newSession()` and each Thrift JDBC connection.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // The stock 1m coalescePartitions.minPartitionSize stays: a 256k floor
      // added more per-task fixed cost than parallelism on small shuffles.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // InferFiltersFromGenerate re-inlines the full generator input
      // expression into a pushed-down Filter; for expensive array
      // builders (shingling) that doubles-to-quadruples per-row cost.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      // Generated classes are cached JVM-wide, keyed by their source. A
      // `dashboard` pass at sf0.1 compiles 405 distinct classes and the
      // whole catalog about 2,000 (1,972 at sf0.001, 1,990 at sf0.1). The
      // stock 100 entries miss on nearly every lookup of a repeated pass,
      // so every query recompiles. 4096 holds twice the largest working set.
      // A held class costs about 20-27 KB of live heap, so the cap bounds
      // the cache near 110 MB in a long-lived session that compiles ad hoc
      // SQL. Static: the cache is sized once per JVM, at the first code
      // generation.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The UI is off and nothing reads the status store, so it keeps the
      // last 10 jobs, stages and SQL executions (each execution with its
      // plan graph) and 1000 tasks a stage instead of 1000/1000/1000 and
      // 100,000: driver memory stays bounded in a long session.
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
}
