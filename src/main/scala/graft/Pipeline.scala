package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Minimal pipeline runner — the engine-side analog of the reference's
  * Airflow DAG runs (goes_satellite_etl.py task chain: download →
  * extract → metrics): named stages execute in declaration order,
  * each stage's output feeds observability (row count, wall time,
  * success) into a metrics table like the reference's task-status
  * monitoring (README.md:219-228).
  *
  * Stages stay lazy DataFrames; `run` times a full noop-sink
  * materialization (a `count()` would let Catalyst prune projected
  * columns and understate the stage) and takes the row count from an
  * [[Observation]] on that same write, so each attempt executes the
  * stage's plan once.
  */
object Pipeline {

  final case class StageResult(
      stage: String, rows: Long, seconds: Double, ok: Boolean,
      attempts: Int, error: String)

  /** @param maxAttempts total tries (1 = no retry) — the Airflow
    *                    `retries` analog (database_etl.py:259-284
    *                    default_args retries/retry_delay)
    */
  final case class Stage(name: String, build: SparkSession => DataFrame,
                         maxAttempts: Int = 1)

  def stage(name: String, maxAttempts: Int = 1)
           (build: SparkSession => DataFrame): Stage =
    Stage(name, build, maxAttempts)

  /** Execute stages in order; a failed stage retries up to its
    * `maxAttempts` (driver-level re-submission — Spark already retries
    * tasks/stages internally, this covers whole-job failures like a
    * source appearing late), then is recorded and the run continues
    * (the reference DAG's per-task retry/failure isolation).
    */
  def run(spark: SparkSession, stages: Seq[Stage]): DataFrame = {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val results = stages.map { s =>
      val t0 = System.nanoTime()
      def attempt(n: Int): StageResult =
        try {
          // an Observation fires once, so every attempt gets its own
          val rows = new Observation()
          s.build(spark).observe(rows, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          val seconds = (System.nanoTime() - t0) / 1e9
          StageResult(s.name, rows.get("n").asInstanceOf[Long], seconds,
            ok = true, n, "")
        } catch {
          case e: Exception if n < s.maxAttempts => attempt(n + 1)
          case e: Exception =>
            StageResult(s.name, -1L, (System.nanoTime() - t0) / 1e9,
              ok = false, n, String.valueOf(e.getMessage))
        }
      attempt(1)
    }
    results.toDF()
  }

  /** Fixed-interval schedule with data-interval semantics (the model
    * behind the reference DAGs' `schedule_interval` + `catchup`,
    * database_etl.py:259-284): the run with logical date T covers the
    * interval [T, T+every) and becomes due once that interval has
    * fully elapsed. Times are epoch micros, matching the engine's
    * event-time unit.
    */
  final case class Schedule(startUs: Long, everyUs: Long) {
    require(everyUs > 0, "schedule interval must be positive")
  }

  /** Logical dates due at `nowUs`. With `catchup` every complete
    * interval since `lastRunUs` (exclusive; schedule start if none)
    * is returned oldest-first — the backfill a re-enabled pipeline
    * owes — capped at `maxRuns` OLDEST intervals per call: callers
    * drain a long-dormant backlog in bounded chunks by persisting
    * `lastRunUs` and calling again (the max-active-runs throttle of
    * a scheduler), instead of materializing an unbounded plan.
    * Without `catchup` only the LATEST complete interval runs and
    * the backlog is skipped. Pure function: callers persist
    * `lastRunUs` however they persist offsets.
    *
    * Truncation contract: the result holds `min(backlog, maxRuns)`
    * dates, so `result.length == maxRuns` is exactly the "backlog
    * may continue — persist the last date and call again" signal;
    * [[backlogSize]] gives the precise owed count when a caller
    * needs to distinguish an exactly-maxRuns backlog from a deeper
    * one, and [[drainScheduled]] packages the persist-and-repeat
    * loop.
    *
    * Closed-form interval arithmetic (no generate-and-scan loop): the
    * completeness bound is the subtraction form `from <= nowUs -
    * everyUs` — the old `t + everyUs <= nowUs` scan wrapped negative
    * near Long.MaxValue and never terminated.
    */
  def dueRuns(s: Schedule, nowUs: Long, lastRunUs: Option[Long] = None,
              catchup: Boolean = true, maxRuns: Int = 1000): Seq[Long] = {
    require(maxRuns > 0, "maxRuns must be positive")
    val from = lastRunUs.map(_ + s.everyUs).getOrElse(s.startUs)
    val limit = nowUs - s.everyUs // latest logical date whose interval closed
    if (from > limit) Seq.empty
    else {
      val lastIdx = (limit - from) / s.everyUs
      if (catchup)
        (0L to math.min(lastIdx, (maxRuns - 1).toLong))
          .map(i => from + i * s.everyUs)
      else Seq(from + lastIdx * s.everyUs)
    }
  }

  /** Exact number of complete intervals owed at `nowUs` — the
    * uncapped size of what [[dueRuns]] truncates to `maxRuns`. Same
    * overflow-safe subtraction form as dueRuns.
    */
  def backlogSize(s: Schedule, nowUs: Long,
                  lastRunUs: Option[Long] = None): Long = {
    val from = lastRunUs.map(_ + s.everyUs).getOrElse(s.startUs)
    val limit = nowUs - s.everyUs
    if (from > limit) 0L else (limit - from) / s.everyUs + 1L
  }

  /** The chunked drain structure: every owed logical date at `nowUs`,
    * grouped into the `maxRuns`-sized [[dueRuns]] calls a persisting
    * caller makes (each chunk's last date becomes the next call's
    * `lastRunUs`). Pure — this IS the repeat-call sequence, so specs
    * and capacity planning can inspect it without running anything:
    * a 5000-interval backlog at maxRuns=1000 is exactly 5 chunks.
    */
  def drainPlan(s: Schedule, nowUs: Long, lastRunUs: Option[Long] = None,
                maxRuns: Int = 1000): Seq[Seq[Long]] = {
    val chunks = Seq.newBuilder[Seq[Long]]
    var last = lastRunUs
    var chunk = dueRuns(s, nowUs, last, catchup = true, maxRuns)
    while (chunk.nonEmpty) {
      chunks += chunk
      last = Some(chunk.last)
      chunk = dueRuns(s, nowUs, last, catchup = true, maxRuns)
    }
    chunks.result()
  }

  /** Execute every due logical date through [[run]], tagging each
    * stage result with its logical date — `stagesFor` builds the
    * interval-parameterized stages (the execution-date templating of
    * a DAG run). Failure isolation and retries are per stage per run,
    * and a failing interval does not block later intervals (the
    * max-active-runs=∞ catch-up shape). The union is bounded by
    * `maxRuns` intervals per call (dueRuns' chunk cap) so a
    * long-dormant schedule cannot blow up the driver-side plan;
    * drain a deeper backlog by persisting the last logical date and
    * calling again.
    */
  def runScheduled(spark: SparkSession, s: Schedule, nowUs: Long,
                   lastRunUs: Option[Long] = None, catchup: Boolean = true,
                   maxRuns: Int = 1000)
                  (stagesFor: Long => Seq[Stage]): DataFrame = {
    val frames = dueRuns(s, nowUs, lastRunUs, catchup, maxRuns).map { t =>
      run(spark, stagesFor(t)).withColumn("logical_us", lit(t))
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(
      run(spark, Seq.empty).withColumn("logical_us", lit(0L)).filter(lit(false)))
  }

  /** Drain a deep backlog to COMPLETION in `maxRuns`-sized chunks —
    * the persist-and-repeat loop [[runScheduled]]'s cap asks of its
    * callers, packaged: each chunk runs through [[runScheduled]],
    * its last logical date becomes the next chunk's `lastRunUs`
    * (exactly [[drainPlan]]'s structure), and the per-stage failure
    * isolation is preserved mid-drain — a poisoned interval records
    * its failed stage rows and the drain continues through every
    * later interval and chunk. Returns the union of all chunk
    * results; `onChunk` observes (chunk index, dates run) so callers
    * can checkpoint `lastRunUs` durably between chunks.
    */
  def drainScheduled(spark: SparkSession, s: Schedule, nowUs: Long,
                     lastRunUs: Option[Long] = None, maxRuns: Int = 1000,
                     onChunk: (Int, Seq[Long]) => Unit = (_, _) => ())
                    (stagesFor: Long => Seq[Stage]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val chunks = drainPlan(s, nowUs, lastRunUs, maxRuns)
    val frames = chunks.zipWithIndex.map { case (dates, i) =>
      val df = runScheduled(spark, s, nowUs,
        lastRunUs = if (i == 0) lastRunUs else Some(chunks(i - 1).last),
        catchup = true, maxRuns = maxRuns)(stagesFor)
      onChunk(i, dates)
      df
    }
    frames.reduceOption(_.unionByName(_)).getOrElse(
      run(spark, Seq.empty).withColumn("logical_us", lit(0L)).filter(lit(false)))
  }
}
