package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.{Engine, Pipeline, SparkEntry}
import graft.functions.Vec
import graft.operators.{Ingest, TextAnalysis, TimeSeries}
import graft.sources.Tables
import graft.streaming.EventStream

/** Benchmark harness for graft: drives the library through its public
  * entry points as one closed-loop client and writes raw timings (and,
  * when traced, spans and Spark listener records) to a JSON file.
  * `perfbench/run.py` builds this file, launches it and turns the raw
  * records into metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * data (table dir), batches (staged ingest batches), work (scratch
  * dir), out (result file), cores, queries (comma list, read workloads).
  * `selftest` as the only argument runs the fingerprint self-check.
  */
object Main {

  def main(args: Array[String]): Unit =
    if (args.sameElements(Array("selftest"))) sys.exit(SelfTest.run())
    else {
      val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
      new Run(kv).execute()
    }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same time base as Spark's listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** In-memory span store. Spans nest through a stack kept by the single
  * client thread; `op` tags every span with the operation it serves.
  * Disabled tracers run the body and record nothing.
  */
final class Tracer(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Seq[Any]]()
  private val ids = new AtomicInteger(1)
  private var stack: List[Int] = Nil
  var op: String = ""

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now
      try body
      finally {
        stack = stack.tail
        spans.add(Seq(id, parent, name, layer, op, t0, Clock.now))
      }
    }
}

/** Spark listener plus query-execution listener that keep raw job,
  * stage, task and Catalyst-phase records for the traced passes.
  */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentLinkedQueue[Seq[Any]]()
  val stages = new ConcurrentLinkedQueue[Seq[Any]]()
  val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  val queries = new ConcurrentLinkedQueue[Seq[Any]]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a job's result stage is named after the job's call site
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    open.put(e.jobId, Seq(e.jobId, e.time, e.stageIds, callSite, prop(Run.OpProperty)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { s =>
      jobs.add(s :+ e.time :+ (e.jobResult == JobSucceeded))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Seq(s.stageId, s.attemptNumber(), s.name,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), s.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      tasks.add(Seq(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(s => Seq(s.startTimeMs, s.endTimeMs))
    // bytes of the files the query's scans read (Spark's task input
    // metrics miss the parquet reader's vectored reads)
    val scanBytes = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanLike => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    queries.add(Seq(funcName, phase("analysis"), phase("optimization"),
      phase("planning"), scanBytes))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq, "queries" -> queries.asScala.toSeq)
}

/** Order-insensitive result fingerprint: row count plus the wrapping
  * sum of a 64-bit hash over every column of every row.
  */
object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  // hash expressions reject maps; their JSON rendering is hashable
  private def hashable(c: Column, t: DataType): Column = if (hasMap(t)) to_json(c) else c

  /** Materializes `df` (as a sink would) and returns (rows, hash). The
    * hashes are summed per partition in `mapPartitions` rather than in
    * an aggregate, so the optimizer keeps the query's plan as it is (an
    * order-insensitive aggregate would let it drop a final sort).
    */
  def apply(df: DataFrame): (Long, Long) = {
    import df.sparkSession.implicits._
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => hashable(col(f.name), f.dataType))
    named.select(xxhash64(cols.toSeq: _*)).as[Long]
      .mapPartitions { hs =>
        var n, sum = 0L
        hs.foreach { h => n += 1; sum += h }
        Iterator((n, sum))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((n, sum), (pn, ps)) => (n + pn, sum + ps) }
  }
}

final case class OpResult(name: String, start: Double, end: Double,
                          latencyMs: Double, error: Option[String],
                          persistedLeft: Int, extra: Map[String, Any])

trait Workload {
  def ops: Seq[String]
  /** The operations of the warm-up pass. */
  def warmOps: Seq[String] = ops
  def order(pass: Int): Seq[String]
  def beginPass(pass: Int): Unit = ()
  /** The timed body of one operation; returns (latency ms, extra fields). */
  def run(op: String): (Double, Map[String, Any])
  /** Untimed: end-of-pass checks; each entry is (name, ok, detail). */
  def endPass(pass: Int): Seq[(String, Boolean, String)] = Nil
}

/** `dashboard` / `curation`: catalog queries from `SparkEntry.queries`,
  * each built, then materialized through [[Fingerprint]], so every
  * execution, warm-up and timed, returns the fingerprint it is checked by.
  */
final class ReadWorkload(spark: SparkSession, dataDir: String, val ops: Seq[String],
                         seed: Long, tr: Tracer) extends Workload {
  def order(pass: Int): Seq[String] = new scala.util.Random(seed * 7919 + pass).shuffle(ops)

  def run(op: String): (Double, Map[String, Any]) = {
    val t0 = Clock.now
    val df = tr.span("build", "operators")(SparkEntry.queries(op)(spark, dataDir))
    val (rows, hash) = tr.span("execute", "exec")(Fingerprint(df))
    (Clock.now - t0, Map("rows" -> rows, "hash" -> hash.toString))
  }
}

/** `ingest`: staged event batches land one at a time in a file-stream
  * source; each operation runs the exactly-once sink, the segment
  * write, the read-after-write sketch query, periodic compaction and a
  * `Pipeline.run` over the landed batch.
  */
final class IngestWorkload(spark: SparkSession, manifest: Seq[Array[String]],
                           workDir: Path, compactEvery: Int, tr: Tracer,
                           keepNewest: Int = 1) extends Workload {
  val ops: Seq[String] = manifest.indices.map(i => s"b$i")
  def order(pass: Int): Seq[String] = ops
  // up to the first compaction, so every step of an operation has run
  override def warmOps: Seq[String] = ops.take(compactEvery)

  private var dir: Path = _
  private def sub(n: String): String = dir.resolve(n).toString
  private var landed = 0L
  private var landedBytes = 0L

  override def beginPass(pass: Int): Unit = {
    dir = workDir.resolve(s"ingest-$pass")
    Files.createDirectories(dir.resolve("src").resolve("events.parquet"))
    landed = 0L; landedBytes = 0L
  }

  private def stages(batchDir: String): Seq[Pipeline.Stage] = Seq(
    Pipeline.stage("logParse")(s => Ingest.logParse(Tables.events(s, batchDir))),
    Pipeline.stage("jsonExtract")(s => Ingest.jsonExtract(Tables.events(s, batchDir))),
    Pipeline.stage("normalize")(s => Ingest.normalize(Tables.events(s, batchDir))),
    Pipeline.stage("kafkaRoundTrip")(s => Ingest.kafkaRoundTrip(Tables.events(s, batchDir))))

  def run(op: String): (Double, Map[String, Any]) = {
    val i = op.drop(1).toInt
    val Array(batchDir, rows, bytes, expected) = manifest(i)
    val target = dir.resolve("src").resolve("events.parquet")
    val tmp = target.resolve(s".b$i.tmp")
    Files.copy(Paths.get(batchDir, "events.parquet"), tmp)
    Files.move(tmp, target.resolve(s"batch-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val tLand = Clock.now
    landed += rows.toLong; landedBytes += bytes.toLong
    tr.span("streaming.ingest", "streaming")(
      EventStream.ingestOnce(spark, sub("src"), sub("sink"), sub("ckpt-ingest")))
    tr.span("streaming.sketch", "streaming")(
      EventStream.sketchSegmentsOnce(spark, sub("src"), sub("segments"), sub("ckpt-sketch")))
    tr.span("streaming.query", "streaming") {
      val q = tr.span("build", "operators")(
        TimeSeries.quantileRollupFrom(EventStream.storedValueSketch(spark, sub("segments"))))
      tr.span("execute", "exec")(q.write.format("noop").mode("overwrite").save())
    }
    val latency = Clock.now - tLand
    if ((i + 1) % compactEvery == 0)
      tr.span("streaming.compact", "streaming")(
        EventStream.compactSegments(spark, sub("segments"), keepNewest))
    val t0 = Clock.now
    val results = tr.span("pipeline.run", "pipeline")(Pipeline.run(spark, stages(batchDir)))
    val runMs = Clock.now - t0
    val got = results.collect().map(r => r.getString(0) -> r).toMap
    val want = expected.split(",").map(_.split("=")).map(a => a(0) -> a(1).toLong)
    val bad = want.filterNot { case (s, n) =>
      got.get(s).exists(r => r.getBoolean(3) && r.getLong(1) == n)
    }
    if (bad.nonEmpty)
      throw new IllegalStateException("pipeline stages failed their row check: " +
        bad.map { case (s, n) => s"$s (want $n rows, got ${got.get(s).map(r =>
          s"${r.getLong(1)} ok=${r.getBoolean(3)} ${r.getString(5)}")})" }.mkString("; "))
    (latency, Map("pipeline_run_ms" -> runMs,
      "pipeline_stage_ms" -> got.values.map(_.getDouble(2) * 1000).sum))
  }

  private def du(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
  }

  private def sketchMatches(): (Boolean, String) = {
    val cols = Seq("day", "event_type", "bin", "n").map(col)
    val stored = Fingerprint(EventStream.storedValueSketch(spark, sub("segments")).select(cols: _*))
    val batch = Fingerprint(TimeSeries.dailyValueSketch(Tables.events(spark, sub("src"))).select(cols: _*))
    (stored == batch, s"stored=$stored batch=$batch")
  }

  override def endPass(pass: Int): Seq[(String, Boolean, String)] = {
    val sinkRows = spark.read.parquet(sub("sink")).count()
    val segments = Files.list(Paths.get(sub("segments"))).iterator().asScala
      .count(_.getFileName.toString.startsWith("seg="))
    val stats = Map(
      "landed_rows" -> landed, "landed_bytes" -> landedBytes,
      "stored_bytes" -> (du(sub("sink")) + du(sub("segments"))),
      "checkpoint_bytes" -> (du(sub("ckpt-ingest")) + du(sub("ckpt-sketch"))),
      "segments" -> segments)
    val (before, beforeDetail) = sketchMatches()
    EventStream.compactSegments(spark, sub("segments"), keepNewest = 0)
    val (after, afterDetail) = sketchMatches()
    Seq(("stats", true, Json(stats)),
      ("sink_rows_equal_landed", sinkRows == landed, s"sink=$sinkRows landed=$landed"),
      ("sketch_equals_batch_before_compaction", before, beforeDetail),
      ("sketch_equals_batch_after_compaction", after, afterDetail))
  }
}

object Run {
  val OpProperty = "graftbench.op"
}

final class Run(kv: Map[String, String]) {
  private val workload = kv("workload")
  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val cores = kv("cores").toInt
  private val dataDir = kv("data")
  private val workDir = Paths.get(kv("work"))

  private val tracer = new Tracer(traced)
  private val recorder = new Recorder

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def manifest: Seq[Array[String]] =
    Files.readAllLines(Paths.get(kv("batches"), "manifest.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))

  def execute(): Unit = {
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    val t0 = Clock.now
    val spark = Engine.builder(s"local[$cores]", cores)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.ensure(spark)
    val sessionMs = Clock.now - t0

    val wl: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, manifest, workDir, kv("compact_every").toInt, tracer)
      case _ => new ReadWorkload(spark, dataDir, kv("queries").split(",").toSeq,
        kv("seed").toLong, tracer)
    }

    // warm-up pass: the same operations as a timed pass, results kept
    // for the checks
    val tw = Clock.now
    val verify = scala.collection.mutable.LinkedHashMap[String, Any]()
    wl.beginPass(0)
    wl.warmOps.foreach { op =>
      verify(op) =
        try wl.run(op)._2
        catch { case NonFatal(e) => Map("error" -> String.valueOf(e.getMessage).take(500)) }
    }
    val warmMs = Clock.now - tw
    out("jvm_start_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    out("ready_ms") = Clock.now
    out("session_s") = sessionMs / 1000
    out("warm_s") = warmMs / 1000
    out("cores") = cores
    out("verify") = verify

    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var passNo = 1
    def measure(kind: String, budgetS: Double, listen: Boolean): Unit = {
      val start = Clock.now
      if (listen) {
        spark.sparkContext.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      do {
        passes += runPass(spark, wl, passNo, kind)
        passNo += 1
      } while (Clock.now - start < budgetS * 1000)
      if (listen) {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
    }
    // the traced pass takes the place of the untraced run's timed pass;
    // the untraced pass after it runs one pass warmer, so traced minus
    // untraced bounds the tracing overhead from above
    if (traced) {
      measure("traced", seconds / 2, listen = true)
      measure("untraced", seconds / 2, listen = false)
    } else measure("timed", seconds, listen = false)
    out("passes") = passes

    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      out("probes") = probes(spark, wl)
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      out("trace") = recorder.toJson ++ Map("spans" -> tracer.spans.asScala.toSeq)
    }

    // live heap: the smallest reading after repeated full GCs, so a
    // background allocation between a GC and its reading does not count
    out("heap_live_mb") = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    Files.writeString(Paths.get(kv("out")), Json(out))
    spark.stop()
  }

  private def runPass(spark: SparkSession, wl: Workload, pass: Int, kind: String): Map[String, Any] = {
    val sc = spark.sparkContext
    tracer.op = ""
    val gc0 = gcMs
    val start = Clock.now
    val results = tracer.span(s"pass-$pass", "bench") {
      wl.beginPass(pass)
      wl.order(pass).map { op =>
        tracer.op = s"$pass/$op"
        sc.setLocalProperty(Run.OpProperty, tracer.op)
        val persisted0 = sc.getPersistentRDDs.keySet
        val t0 = Clock.now
        val (lat, err, extra) =
          try {
            val (l, x) = tracer.span("op", "bench")(wl.run(op))
            (l, None, x)
          } catch { case NonFatal(e) => (Clock.now - t0, Some(String.valueOf(e.getMessage).take(500)), Map.empty[String, Any]) }
        val t1 = Clock.now
        sc.setLocalProperty(Run.OpProperty, null)
        // RDDs the operation persisted and left persisted (by id, so the
        // context cleaner releasing older RDDs meanwhile does not offset it)
        val left = (sc.getPersistentRDDs.keySet -- persisted0).size
        OpResult(op, t0, t1, lat, err, left, extra)
      }
    }
    val end = Clock.now
    tracer.op = ""
    val checks = wl.endPass(pass)
    Map("pass" -> pass, "kind" -> kind, "start" -> start, "end" -> end,
      "gc_ms" -> (gcMs - gc0),
      "ops" -> results.map(r => Map("name" -> r.name, "start" -> r.start, "end" -> r.end,
        "latency_ms" -> r.latencyMs, "error" -> r.error, "persisted_left" -> r.persistedLeft)
        ++ r.extra),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
  }

  /** Per-layer probes of the traced run: direct `Tables` loads, native
    * kernel throughput over fixed sf0.1 columns and, on the read
    * workloads, two ingest batches and a compaction for the streaming
    * and pipeline layers.
    */
  private def probes(spark: SparkSession, wl: Workload): Map[String, Any] = {
    val sc = spark.sparkContext
    tracer.op = "probe"
    val t0 = Clock.now
    val loads = Seq[(String, () => DataFrame)](
      "lineitem" -> (() => Tables.lineitem(spark, dataDir)),
      "orders" -> (() => Tables.orders(spark, dataDir)),
      "events" -> (() => Tables.events(spark, dataDir)),
      "documents" -> (() => Tables.documents(spark, dataDir)))
    val loadSpans = for ((name, load) <- loads; _ <- 1 to 3) yield {
      org.apache.spark.GraftBenchBus.drain(sc)
      val t0 = Clock.now
      load()
      val t1 = Clock.now
      Seq(name, t0, t1)
    }

    val tKernels = Clock.now
    // 100k log lines, 5k document texts, 40k quantized embeddings
    def rep(n: Int) = explode(sequence(lit(1), lit(n))).as("r")
    val ev = Tables.events(spark, dataDir)
    val docs = Tables.documents(spark, dataDir)
    val emb = Tables.embeddings(spark, dataDir)
    val lines = Ingest.toLogLines(ev).select(col("line"))
    val texts = docs.select(col("text"))
    val quant = emb.select(Vec.quantize(col("embedding")).as("v"), rep(20)).select(col("v"))
    val codes = emb.select(Vec.quantize(col("embedding"))).head(16).map(_.getSeq[Long](0)).toSeq
    val kernels = Seq(
      ("graft_regexp_groups", lines,
        call_function("graft_regexp_groups", col("line"), lit(Ingest.logPattern))),
      ("graft_pii_scan", texts,
        call_function("graft_pii_scan", col("text"), lit(TextAnalysis.EmailRe), lit(TextAnalysis.PhoneRe))),
      ("graft_nfc", texts, call_function("graft_nfc", col("text"))),
      ("graft_sqd2", quant, Vec.sqd2(col("v"), typedLit(codes.head))),
      ("graft_nearest_code", quant, Vec.nearestCode(col("v"), typedLit(codes))))
    val kernelRates = kernels.map { case (name, input, expr) =>
      val cached = input.persist(StorageLevel.MEMORY_ONLY)
      val rows = cached.count()
      def once(): Double = {
        val t0 = Clock.now
        cached.select(expr.as("o")).write.format("noop").mode("overwrite").save()
        Clock.now - t0
      }
      once()
      val ms = Seq.fill(3)(once())
      cached.unpersist(blocking = true)
      name -> Map("rows" -> rows, "ms" -> ms)
    }.toMap

    val tIngest = Clock.now
    val streaming = wl match {
      case _: IngestWorkload => Nil
      case _ =>
        // two batches, then a compaction that folds both segments
        val iw = new IngestWorkload(spark, manifest.take(2), workDir.resolve("probe"), 2,
          tracer, keepNewest = 0)
        iw.beginPass(0)
        val res = iw.ops.map { op =>
          tracer.op = s"probe/$op"
          val t0 = Clock.now
          val (lat, extra) = tracer.span("op", "bench")(iw.run(op))
          Map("name" -> op, "start" -> t0, "end" -> Clock.now, "latency_ms" -> lat) ++ extra
        }
        tracer.op = ""
        val checks = iw.endPass(0)
        Seq(Map("ops" -> res, "checks" -> checks.map { case (n, ok, d) =>
          Map("name" -> n, "ok" -> ok, "detail" -> d) }))
    }
    tracer.op = ""
    Map("loads" -> loadSpans, "kernels" -> kernelRates, "ingest" -> streaming,
      "seconds" -> Map("loads" -> (tKernels - t0) / 1000, "kernels" -> (tIngest - tKernels) / 1000,
        "ingest" -> (Clock.now - tIngest) / 1000))
  }
}

/** Self-check of [[Fingerprint]]: row order and partitioning do not
  * change it; changing one value does.
  */
object SelfTest {
  def run(): Int = {
    val spark = Engine.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.5, Map("k" -> i)))
    val base = rows.toDF("a", "b", "c", "m")
    val shuffled = scala.util.Random.shuffle(rows).toDF("a", "b", "c", "m").repartition(7)
    val changed = rows.updated(42, rows(42).copy(_3 = 0.25)).toDF("a", "b", "c", "m")
    val fb = Fingerprint(base)
    val results = Seq(
      "same_rows_any_order" -> (Fingerprint(shuffled) == fb),
      "row_count_counted" -> (fb._1 == 200L),
      "one_value_changed" -> (Fingerprint(changed) != fb),
      "one_row_dropped" -> (Fingerprint(base.filter($"a" =!= 7L)) != fb))
    results.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} fingerprint $n") }
    spark.stop()
    if (results.forall(_._2)) 0 else 1
  }
}
