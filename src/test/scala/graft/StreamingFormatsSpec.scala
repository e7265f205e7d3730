package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Formats, Tables}
import graft.streaming.EventStream

/** Stateful streaming + file-format round-trip coverage. */
class StreamingFormatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  private def rmRfLocal(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("mapGroupsWithState user profiles equal the batch aggregate") {
    val events = Tables.events(spark, dir)
    val got = EventStream.userProfiles(events)
      .collect().map(p => p.user_id -> ((p.n_events, p.total_value, p.last_seen_us))).toMap
    val expected = events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total"),
        max(unix_micros(col("ts"))).as("last"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    val bad = got.filter { case (k, v) => expected(k) != v }
    assert(bad.isEmpty, s"profile mismatches: ${bad.take(3)}")
  }

  test("streaming index upsert: cell assignment over a stream equals the batch path") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, dir)
    val q0 = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
    val cents = Similarity.seedCentroids(q0, 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    // batch truth over the whole corpus
    val batch = Similarity.assignCells(q0,
      Similarity.seedCentroids(q0, 8))
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // stream the corpus in TWO increments through the literal-argmin
    // map-only twin — no state, no shuffle, append mode
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val out = Similarity.assignCellsLit(
      ms.toDF.toDF("vec_id", "embedding"), cents)
    val query = out.writeStream.format("memory")
      .queryName("graft_idx_upsert").outputMode("append").start()
    val (a, b) = rows.splitAt(rows.length / 2)
    ms.addData(a.toSeq); query.processAllAvailable()
    val afterFirst = spark.table("graft_idx_upsert").count()
    assert(afterFirst == a.length, "first increment not fully appended")
    ms.addData(b.toSeq); query.processAllAvailable()
    val got = spark.table("graft_idx_upsert").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    query.stop()
    assert(got.size == rows.length)
    val bad = got.filter { case (k, v) => batch(k) != v }
    assert(bad.isEmpty,
      s"stream assignment diverged from batch for ${bad.size} vectors: ${bad.take(3)}")
  }

  test("csv round trip preserves the events table") {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val path = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Formats.writeCsv(events, path)
    val back = Formats.readCsv(spark, path,
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    assert(back.count() == events.count())
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
  }

  test("json round trip preserves the events table") {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val path = java.nio.file.Files.createTempDirectory("graft_json").toString
    Formats.writeJson(events, path)
    val back = Formats.readJson(spark, path,
      "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
  }

  test("partitioned parquet sink enables partition pruning") {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val path = java.nio.file.Files.createTempDirectory("graft_part").toString
    Formats.writePartitioned(events, path, "event_type")
    val pruned = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition filter in:\n$plan")
    assert(pruned.count() ==
      Tables.events(spark, dir).filter(col("event_type") === "click").count())
  }

  test("flatMapGroupsWithState new-high alerts equal the batch window twin") {
    // the stateful operator's batch execution exists only for this
    // equivalence check (its in-operator sort is micro-batch-bounded
    // in streaming); the declared q47 runs newHighAlertsBatch
    val events = Tables.events(spark, dir)
    val got = EventStream.newHighAlerts(events)
      .collect().map(a => (a.user_id, a.ts_us, a.value, a.prev_max)).toSet
    val expected = EventStream.newHighAlertsBatch(events)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("jdbc round trip via embedded Derby with a partitioned parallel read") {
    val dbPath = java.nio.file.Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dbPath/graftdb;create=true"
    val driver = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    Formats.writeJdbc(events, url, "events_jdbc", driver)
    val maxId = events.agg(max(col("event_id"))).collect()(0).getLong(0)
    val back = Formats.readJdbc(spark, url, "events_jdbc",
      partitioning = Some(("event_id", 0L, maxId + 1, 4)), props = driver)
    assert(back.rdd.getNumPartitions == 4, "partitioned read must split into 4 range tasks")
    assert(back.count() == events.count())
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    // Catalyst pushes filters into the database's SELECT
    val plan = back.filter(col("event_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_id"),
      s"no pushed filter in JDBC scan:\n$plan")
  }

  test("wire seam falls back to the file twin and keeps the wire schema") {
    // no broker conf in the sandbox -> file twin; schema must equal the
    // kafka branch's decoded shape so queries swap sources untouched
    val stream = EventStream.readWireOrFallback(spark, dir)
    assert(stream.isStreaming)
    assert(stream.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("ts" -> "timestamp", "event_type" -> "string",
        "value" -> "double", "source" -> "string"))
    // sink twin: wire JSON files that the q37 serde schema parses back
    val out = java.nio.file.Files.createTempDirectory("graft_wire").toString
    val batch = Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("value"), lit("events").as("source"))
    EventStream.writeWire(batch, spark, out)
    val parsed = spark.read.schema(EventStream.wireSchema).json(out)
    assert(parsed.count() == batch.count())
    assert(parsed.filter(col("kind").isNull).count() == 0)
  }

  test("orc round trip preserves the events table and pushes filters to the scan") {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val path = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Formats.writeOrc(events, path)
    val back = Formats.readOrc(spark, path)
    assert(back.count() == events.count())
    assert(back.exceptAll(events).isEmpty && events.exceptAll(back).isEmpty)
    val plan = back.filter(col("event_type") === "click")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      s"no pushed filter in ORC scan:\n$plan")
  }

  test("binaryFile source feeds the multimodal decode pipeline") {
    import graft.operators.Multimodal
    val bin = Formats.readBinaryFiles(spark, s"$dir/events.parquet")
    val row = bin.select(col("path"), col("length"), col("content")).collect()(0)
    val onDisk = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    assert(row.getLong(1) == onDisk, "binaryFile length != file size")
    assert(row.getAs[Array[Byte]](2).length == onDisk.toInt,
      "payload not fully materialized")
    // the opaque payload drops straight into the batched decoder
    val feats = Multimodal.MediaDecoder.decodeBatch(
      Iterator((1L, "binary", row.getAs[Array[Byte]](2)))).toSeq
    assert(feats.head.n_bytes == onDisk)
    // metadata-only projection must not read file contents
    val metaPlan = bin.select("path", "length")
      .queryExecution.executedPlan.toString
    assert(!metaPlan.contains("content"), s"content not pruned:\n$metaPlan")
  }

  test("adapter seam reads through an explicit scheme URI and format name") {
    // the s3a://-shaped code path on the local scheme: same reader,
    // same options surface, only the scheme/jar differ in deployment.
    // The seam infers the file's own schema; the count is the same.
    val expected = Tables.events(spark, dir).count()
    val uri = s"file://$dir/events.parquet"
    val viaSeam = Formats.readSource(spark, "parquet", Map.empty, Some(uri))
    assert(viaSeam.count() == expected)
  }

  test("stream-stream click-purchase join matches the batch join") {
    val events = Tables.events(spark, dir)
    val batch = EventStream.clickPurchaseJoin(events, events, streaming = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = MemorySink.drain(EventStream.clickPurchaseJoin(
        EventStream.readEventStream(spark, dir),
        EventStream.readEventStream(spark, dir), streaming = true),
        "append", "sjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // an inner stream-stream join emits a pair once both sides have
    // arrived; with the whole directory processed, the final result
    // must equal the bounded join exactly
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(batch.nonEmpty, "no click-purchase pairs in testdata")
  }

  test("stream-static dim enrichment matches batch, keeps every event, broadcasts the dim") {
    val customer = Tables.customer(spark, dir)
    val nation = Tables.nation(spark, dir)
    val events = Tables.events(spark, dir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(2), r.getString(3),
        Option(r.getString(5)), Option(r.getString(6)))
    val batchDf = EventStream.enrichWithDims(events, customer, nation)
    // the static side must reach the join as a broadcast — a per-batch
    // shuffle of the dim would repeat at every trigger
    assert(batchDf.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "dim side not broadcast in the enrichment join")
    val batch = batchDf.collect().map(key).toSet
    val got = MemorySink.drain(EventStream.enrichWithDims(
        EventStream.readEventStream(spark, dir), customer, nation),
        "append", "enrich")
      .collect().map(key).toSet
    assert(got == batch,
      s"stream/batch enrichment diverge: ${(got diff batch).take(3)} / ${(batch diff got).take(3)}")
    // left join: every event survives enrichment, matched or not
    assert(got.size.toLong == events.count())
    assert(got.exists(_._4.isDefined), "no event matched a dim row")
    // the late-dim case the left join exists for: drop half the dim
    // rows and every event must STILL come through, orphans with NULLs
    val partialDim = customer.filter(col("c_custkey") % 2 === 0)
    val sparse = EventStream.enrichWithDims(events, partialDim, nation)
      .collect().map(key).toSet
    assert(sparse.size.toLong == events.count(),
      "events dropped when their dim row is missing")
    assert(sparse.exists(_._4.isEmpty) && sparse.exists(_._4.isDefined),
      "expected both matched and NULL-dim events under a partial dim")
  }

  test("left-outer stream-stream join: exact matches, nulls only past the watermark") {
    val events = Tables.events(spark, dir)
    val streamed = MemorySink.drain(EventStream.clickPurchaseJoin(
        EventStream.readEventStream(spark, dir),
        EventStream.readEventStream(spark, dir), streaming = true, "left_outer"),
        "append", "sjoin_lo").collect()
    val batch = EventStream.clickAbandonment(events, events, streaming = false)
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))
    val sMatched = streamed.filter(!_.isNullAt(2)).map(key).toSet
    val bMatched = batch.filter(!_.isNullAt(2)).map(key).toSet
    // matched rows are watermark-independent: must equal batch exactly
    assert(sMatched == bMatched,
      s"missing=${(bMatched -- sMatched).take(3)} extra=${(sMatched -- bMatched).take(3)}")
    // a null row may only be emitted once the GLOBAL watermark passed
    // the click's whole match window. The global watermark is the MIN
    // across both inputs (multipleWatermarkPolicy=min), and each
    // side's watermark tracks only ITS events: min(max click_ts,
    // max purchase_ts) - 10min delay. Every no-purchase click whose
    // window (click_ts + 1h) sits a 10min slack below that MUST have
    // its null row, and no null row may name a click that batch says
    // had a purchase
    val sNull = streamed.filter(_.isNullAt(2)).map(r => r.getLong(1)).toSet
    val bNullAll = batch.filter(_.isNullAt(2)).map(r => r.getLong(1)).toSet
    assert(sNull.subsetOf(bNullAll),
      s"premature/spurious null rows: ${(sNull -- bNullAll).take(3)}")
    val sideMax = events
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type")).agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(_.getLong(1)).min
    val safeUs = sideMax - (60L + 20L) * 60L * 1000000L
    val bNullSafe = batch.filter(r => r.isNullAt(2) &&
      r.getTimestamp(3).getTime * 1000L < safeUs).map(r => r.getLong(1)).toSet
    assert(bNullSafe.subsetOf(sNull),
      s"expired clicks missing their null row: ${(bNullSafe -- sNull).take(3)}")
    assert(bNullSafe.nonEmpty, "spec vacuous: no safely-expired abandoned clicks")
  }

  test("append-mode watermarked rollup matches batch window-by-window") {
    import java.nio.file.Files
    val sink = Files.createTempDirectory("graft_append_sink").toString
    val ckpt = Files.createTempDirectory("graft_append_ckpt").toString
    val emitted = EventStream.runAppendOnce(spark, dir, sink, ckpt)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // append publishes exactly the windows the final watermark closed:
    // window_end <= max(ts) - 10min (the configured delay)
    val events = Tables.events(spark, dir)
    val maxTs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    // BOUNDARY ASSUMPTION: this filter encodes "window closed" as
    // window_end <= watermark with the watermark exactly at
    // max(ts) - 10min. A testdata regen whose max ts lands a window
    // end EXACTLY on the watermark would probe Spark's inclusive/
    // exclusive emission edge — if this spec starts failing only on
    // the single boundary window after a data change, suspect this
    // equality first, not the streaming engine.
    val expected = EventStream.batchRollup(events)
      .filter(unix_micros(col("window_start")) + 5L * 60 * 1000000 <=
        maxTs - 10L * 60 * 1000000)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(emitted.keySet == expected.keySet,
      s"missing=${(expected.keySet -- emitted.keySet).take(3)} " +
        s"extra=${(emitted.keySet -- expected.keySet).take(3)}")
    val bad = expected.filter { case (k, v) => emitted(k) != v }
    assert(bad.isEmpty, s"window value mismatches: ${bad.take(3)}")
  }

  test("watermarked rollup round-trips the graded sf0.01 on-disk events") {
    // the round-8/9 regression class: streaming specs that synthesize
    // frames in-memory stay green while the real on-disk events are
    // unreadable. This one runs the full open→watermark→window path
    // against the actual files the correctness gate grades (sf0.01),
    // and checks the result against the batch twin window-by-window.
    val d = "/root/testdata/sf0.01"
    val q = EventStream.windowRollup(
        EventStream.readEventStream(spark, d), watermarked = true)
      .writeStream.outputMode("complete")
      .format("memory").queryName("graft_wm_sf001")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_wm_sf001")
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val expected = EventStream.batchRollup(Tables.events(spark, d))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.nonEmpty, "spec vacuous: no windows emitted")
    assert(got.keySet == expected.keySet,
      s"missing=${(expected.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- expected.keySet).take(3)}")
    val bad = expected.filter { case (k, v) => got(k) != v }
    assert(bad.isEmpty, s"window value mismatches: ${bad.take(3)}")
  }

  test("streaming dedup drops replayed events and matches batch dedup") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Files.createTempDirectory("graft_dedup_src").toString
    // the same file twice = an at-least-once replay
    val eventsFile = Paths.get(s"$dir/events.parquet")
    Files.copy(eventsFile, Paths.get(s"$src/events.parquet_a"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(eventsFile, Paths.get(s"$src/events.parquet_b"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventStream.dedupStream(
        EventStream.readEventStream(spark, src), streaming = true)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_stream")
    val batch = EventStream.dedupStream(Tables.events(spark, dir),
      streaming = false)
    assert(got.count() == batch.count(),
      s"stream emitted ${got.count()} rows, batch dedup has ${batch.count()}")
    assert(got.select("event_id").distinct().count() == got.count(),
      "stream emitted a duplicate event_id")
  }

  test("checkpointed ingestion is exactly-once across restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Files.createTempDirectory("graft_stream_src").toString
    val sink = Files.createTempDirectory("graft_stream_sink").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val eventsFile = Paths.get(s"$dir/events.parquet")
    val n = Tables.events(spark, dir).count()

    Files.copy(eventsFile, Paths.get(s"$src/events.parquet_a"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.ingestOnce(spark, src, sink, ckpt)
    assert(spark.read.parquet(sink).count() == n, "first run ingested once")

    // restart with same checkpoint: old file must NOT reprocess,
    // newly arrived file must
    Files.copy(eventsFile, Paths.get(s"$src/events.parquet_b"),
      StandardCopyOption.REPLACE_EXISTING)
    EventStream.ingestOnce(spark, src, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 2 * n,
      "restart processed exactly the new file")
  }

  test("sketch segment table: restart resumes state, crash-replay is idempotent, stored equals batch") {
    import java.nio.file.Files
    import graft.operators.TimeSeries
    val src = Files.createTempDirectory("graft_seg_src").toString
    val table = Files.createTempDirectory("graft_seg_tbl").toString
    val ckpt = Files.createTempDirectory("graft_seg_ck").toString
    val ev = Tables.events(spark, dir)
    // split at the median TIMESTAMP (not a day boundary): the median
    // day's keys then land in both batches' delta segments, so the
    // summed read is exercised on overlapping keys — a read that kept
    // one segment's count instead of the sum would lose the other's.
    // In-order arrival (A strictly before B) keeps every B row ahead
    // of the watermark, the ingest pattern the operator declares.
    val tMidUs = ev.select(percentile_approx(unix_micros(col("ts")),
      lit(0.5), lit(10000))).head.getLong(0)
    val a = ev.filter(unix_micros(col("ts")) < tMidUs)
    val b = ev.filter(unix_micros(col("ts")) >= tMidUs)
    def keyed(df: org.apache.spark.sql.DataFrame): Map[(String, String, Long), Long] =
      df.select(col("day"), col("event_type"), col("bin"), col("n"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2)) -> r.getLong(3)).toMap
    a.write.parquet(s"$src/events.parquet_a")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    assert(keyed(EventStream.storedValueSketch(spark, table)) ==
      keyed(TimeSeries.dailyValueSketch(a)),
      "first-increment segment table diverged from batch sketch of A")
    // RESTART with the same checkpoint: only the new file is processed,
    // and its overlap-day keys land as deltas in a second segment
    b.write.parquet(s"$src/events.parquet_b")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    val all = keyed(TimeSeries.dailyValueSketch(ev))
    assert(keyed(EventStream.storedValueSketch(spark, table)) == all,
      "restarted segment table diverged from batch sketch of A+B")
    // CRASH-REPLAY: drop the final commit marker — exactly the state a
    // crash between sink write and offset commit leaves. Resume
    // re-executes the last batch through foreachBatch with the SAME
    // batchId; the overwrite sink must land identical content, not
    // duplicates
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val last = commitsDir.listFiles.map(_.getName)
      .filterNot(_.startsWith(".")).map(_.toInt).max
    assert(new java.io.File(commitsDir, last.toString).delete())
    // the local ChecksumFileSystem keeps a .N.crc sidecar a real HDFS
    // crash would not leave behind; a stale one makes the replayed
    // commit's atomic rename throw a misleading "multiple streaming
    // queries" error, so the crash simulation removes it too
    new java.io.File(commitsDir, s".$last.crc").delete()
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    assert(keyed(EventStream.storedValueSketch(spark, table)) == all,
      "crash-replayed batch changed the segment table")
    // the Druid read path: percentiles answered from the STORED table
    // equal q120's rollup straight off raw events
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(TimeSeries.quantileRollupFrom(
        EventStream.storedValueSketch(spark, table))) ==
      rows(TimeSeries.quantileRollup(ev)),
      "stored-table percentiles diverged from the direct q120 rollup")
  }

  test("sketch segment table: rows of days closed behind the 1-day watermark are not counted") {
    import java.nio.file.Files
    import graft.operators.TimeSeries
    val src = Files.createTempDirectory("graft_late_src").toString
    val table = Files.createTempDirectory("graft_late_tbl").toString
    val ckpt = Files.createTempDirectory("graft_late_ck").toString
    val ev = Tables.events(spark, dir)
    def keyed(df: org.apache.spark.sql.DataFrame): Map[(String, String, Long), Long] =
      df.select(col("day"), col("event_type"), col("bin"), col("n"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2)) -> r.getLong(3)).toMap
    def stored = keyed(EventStream.storedValueSketch(spark, table))
    val tMidUs = ev.select(percentile_approx(unix_micros(col("ts")),
      lit(0.5), lit(10000))).head.getLong(0)
    ev.filter(unix_micros(col("ts")) < tMidUs).write.parquet(s"$src/events.parquet_a")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    ev.filter(unix_micros(col("ts")) >= tMidUs).write.parquet(s"$src/events.parquet_b")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    assert(stored == keyed(TimeSeries.dailyValueSketch(ev)))
    // after A and B the watermark is the newest ts minus 1 day, which
    // falls inside the day before the last: the last 2 days are still
    // open, and every earlier day ended at or before the watermark
    val day = to_date(col("ts"))
    val days = ev.select(day.as("d")).distinct().orderBy("d")
      .collect().map(_.getDate(0)).toSeq
    assert(days.length >= 5, s"spec vacuous: only ${days.length} days of events")
    val idShift = ev.agg(max(col("event_id"))).head.getLong(0) + 1
    // copies of the rows of `ds` with fresh event ids (shifted k blocks up)
    def copies(ds: Seq[java.sql.Date], k: Int) =
      ev.filter(day.isin(ds: _*))
        .withColumn("event_id", col("event_id") + lit(idShift * k))
    val (first3, last2) = (days.take(3), days.takeRight(2))
    assert(!copies(first3, 1).isEmpty && !copies(last2, 1).isEmpty)
    copies(first3 ++ last2, 1).write.parquet(s"$src/events.parquet_l")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    val onTime = keyed(TimeSeries.dailyValueSketch(ev.union(copies(last2, 1))))
    assert(onTime != keyed(TimeSeries.dailyValueSketch(ev.union(copies(first3 ++ last2, 1)))),
      "spec vacuous: counting the late rows would not change the sketch")
    assert(stored == onTime,
      "the stored sketch counted rows of days that closed behind the watermark")
    // a file of first-day rows only is late in full: the table reads the same
    copies(days.take(1), 2).write.parquet(s"$src/events.parquet_m")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    assert(stored == onTime, "an all-late file changed the stored sketch")
  }

  test("segment compaction: folds under latest-wins, read-identical, recovers from both crash windows") {
    import java.nio.file.Files
    import graft.operators.TimeSeries
    val src = Files.createTempDirectory("graft_cpt_src").toString
    val table = Files.createTempDirectory("graft_cpt_tbl").toString
    val ckpt = Files.createTempDirectory("graft_cpt_ck").toString
    val ev = Tables.events(spark, dir)
    // three in-order arrival increments → three segments
    val cuts = ev.select(
      percentile_approx(unix_micros(col("ts")), lit(0.33), lit(10000)),
      percentile_approx(unix_micros(col("ts")), lit(0.66), lit(10000)))
      .head()
    val (t1, t2) = (cuts.getLong(0), cuts.getLong(1))
    def keyed(df: org.apache.spark.sql.DataFrame): Map[(String, String, Long), Long] =
      df.select(col("day"), col("event_type"), col("bin"), col("n"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2)) -> r.getLong(3)).toMap
    def segNames = new java.io.File(table).listFiles
      .map(_.getName).filter(_.startsWith("seg="))
      .sortBy(_.stripPrefix("seg=").toLong).toSeq
    ev.filter(unix_micros(col("ts")) < t1)
      .write.parquet(s"$src/events.parquet_a")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    ev.filter(unix_micros(col("ts")) >= t1 && unix_micros(col("ts")) < t2)
      .write.parquet(s"$src/events.parquet_b")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    ev.filter(unix_micros(col("ts")) >= t2)
      .write.parquet(s"$src/events.parquet_c")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    // segment ids come from micro-batch ids — the protocol only needs
    // them monotone, so the spec pins count and order, not the values
    assert(segNames.length == 3, s"expected 3 segments, got $segNames")
    val ids = segNames.map(_.stripPrefix("seg=").toLong)
    val before = keyed(EventStream.storedValueSketch(spark, table))
    assert(before == keyed(TimeSeries.dailyValueSketch(ev)),
      "3-segment table diverged from batch sketch before compaction")

    // keepNewest=1: fold the two oldest segments into a base that
    // keeps the fold set's highest id; the hot tail stays out
    assert(EventStream.compactSegments(spark, table, keepNewest = 1) == 2)
    assert(segNames == Seq(s"seg=${ids(1)}", s"seg=${ids(2)}"),
      s"unexpected dirs $segNames")
    assert(keyed(EventStream.storedValueSketch(spark, table)) == before,
      "compaction changed the latest-wins read")
    // idempotent: one base + the kept tail leaves nothing to fold
    assert(EventStream.compactSegments(spark, table, keepNewest = 1) == 0)

    // CRASH WINDOW A (pre-commit): a tmp dir without the marker is an
    // abandoned write — the folded segments are intact. A READER must
    // ignore it WITHOUT touching it (r19: the tmp might be an
    // in-flight writer's, not a crash's — reader-side deletion raced
    // exactly that); the next WRITER discards it.
    val tmp = new java.io.File(table, "_compact_tmp")
    assert(tmp.mkdir())
    Files.write(new java.io.File(tmp, "part-junk").toPath,
      Array[Byte](1, 2, 3))
    assert(keyed(EventStream.storedValueSketch(spark, table)) == before)
    assert(tmp.exists(),
      "a READ deleted the unmarked tmp — reads must never mutate")
    assert(EventStream.compactSegments(spark, table, keepNewest = 1) == 0)
    assert(!tmp.exists(), "the writer did not discard the abandoned tmp")

    // CRASH WINDOW B (post-commit, pre-rename): merged data + marker
    // durable, folded segments possibly half-deleted. A READER must
    // see the identical table by reading AROUND the crash (tmp stands
    // in for seg=<target>) without mutating; the next WRITER finishes
    // the fold forward. Build the exact on-disk state a crash there
    // leaves.
    EventStream.storedValueSketch(spark, table)
      .write.parquet(tmp.toString)
    Files.write(new java.io.File(tmp, "_COMPACT_TARGET").toPath,
      ids(2).toString.getBytes("UTF-8"))
    rmRfLocal(s"$table/seg=${ids(2)}") // the crash: target gone, tmp committed
    assert(keyed(EventStream.storedValueSketch(spark, table)) == before,
      "read-around of a committed-but-unfinished fold changed the read")
    assert(tmp.exists(),
      "a READ finished the fold — finishing forward is writer-class")
    assert(EventStream.compactSegments(spark, table, keepNewest = 1) == 0)
    assert(segNames == Seq(s"seg=${ids(2)}"),
      s"the writer did not publish the base segment: $segNames")
    assert(!tmp.exists())
    assert(keyed(EventStream.storedValueSketch(spark, table)) == before,
      "the finished fold changed the read")
    // and the Druid question still answers identically off the
    // fully-compacted single-segment table
    assert(TimeSeries.quantileRollupFrom(
        EventStream.storedValueSketch(spark, table)).collect().map(_.toSeq).toSeq ==
      TimeSeries.quantileRollup(ev).collect().map(_.toSeq).toSeq,
      "percentiles off the compacted table diverged from q120")
  }

  test("scheduled auto-compaction folds a fragmented table in the pipeline loop; reads stay identity") {
    import java.nio.file.Files
    import graft.operators.TimeSeries
    val src = Files.createTempDirectory("graft_sched_cpt_src").toString
    val table = Files.createTempDirectory("graft_sched_cpt_tbl").toString
    val ckpt = Files.createTempDirectory("graft_sched_cpt_ck").toString
    val ev = Tables.events(spark, dir)
    val cuts = ev.select(
      percentile_approx(unix_micros(col("ts")), lit(0.33), lit(10000)),
      percentile_approx(unix_micros(col("ts")), lit(0.66), lit(10000)))
      .head()
    val (t1, t2) = (cuts.getLong(0), cuts.getLong(1))
    def keyed(df: org.apache.spark.sql.DataFrame): Map[(String, String, Long), Long] =
      df.select(col("day"), col("event_type"), col("bin"), col("n"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1),
          r.getLong(2)) -> r.getLong(3)).toMap
    def segCount = new java.io.File(table).listFiles
      .count(f => f.isDirectory && f.getName.startsWith("seg="))
    // three arrival increments → three segments, as in the manual spec
    ev.filter(unix_micros(col("ts")) < t1)
      .write.parquet(s"$src/events.parquet_a")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    ev.filter(unix_micros(col("ts")) >= t1 && unix_micros(col("ts")) < t2)
      .write.parquet(s"$src/events.parquet_b")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    ev.filter(unix_micros(col("ts")) >= t2)
      .write.parquet(s"$src/events.parquet_c")
    EventStream.sketchSegmentsOnce(spark, src, table, ckpt)
    assert(segCount == 3)
    val before = keyed(EventStream.storedValueSketch(spark, table))
    // three due intervals drive the inspect-and-maybe-fold decision
    // the way Druid's coordinator period does: the first run sees 3 >
    // maxSegments=2 and folds, later runs see a healthy table and
    // no-op — all recorded in the scheduled run's metrics table
    val sched = Pipeline.Schedule(startUs = 0L, everyUs = 1000L)
    val out = Pipeline.runScheduled(spark, sched, nowUs = 3000L)(_ =>
      Seq(EventStream.compactionStage(table, maxSegments = 2, keepNewest = 1)))
      .orderBy(col("logical_us"))
    val rows = out.collect()
    assert(rows.length == 3 && rows.forall(_.getBoolean(3)),
      s"expected 3 ok compaction stage runs: ${rows.mkString(";")}")
    val dates = rows.map(_.getLong(6)).toSeq
    assert(dates == Seq(0L, 1000L, 2000L), s"logical dates: $dates")
    assert(segCount == 2,
      s"expected 2 segments after scheduled compaction, got $segCount")
    assert(keyed(EventStream.storedValueSketch(spark, table)) == before,
      "scheduled compaction changed the latest-wins read")
    // the decision frame itself: a healthy table inspects as a no-op
    val decision = EventStream.compactionStage(table, maxSegments = 2)
      .build(spark).collect().head
    assert((decision.getLong(0), decision.getLong(1), decision.getLong(2)) ==
      ((2L, 0L, 2L)), s"no-op decision frame wrong: $decision")
    assert(TimeSeries.quantileRollupFrom(
        EventStream.storedValueSketch(spark, table)).collect().map(_.toSeq).toSeq ==
      TimeSeries.quantileRollup(ev).collect().map(_.toSeq).toSeq,
      "percentiles off the auto-compacted table diverged from q120")
  }

  test("q121 catalog entry answers q120's rows, built twice in one session") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val want = rows(SparkEntry.queries("q120_quantile_rollup")(spark, dir))
    assert(want.nonEmpty, "spec vacuous: q120 returned no rows")
    // the second build reopens the first one's checkpoint and table:
    // no new file, no new segment, the same answer
    for (build <- 1 to 2)
      assert(rows(SparkEntry.queries("q121_sketch_store")(spark, dir)) == want,
        s"q121 build $build diverged from q120")
  }

  test("session_window operator matches the lag-based sessionize totals") {
    import org.apache.spark.sql.expressions.Window
    val events = Tables.events(spark, dir)
    val sw = operators.TimeSeries.sessionWindows(events)
    // expected session count from a lag-based fold with session_window's
    // OWN boundary rule (>=: an event exactly gap after its predecessor
    // opens a NEW session). Comparing against sessionize (strict >)
    // would hold only while no test event lands exactly on a 30-min
    // boundary — dataset-fragile.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val expectedSessions = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      .agg(sum(col("new_session"))).collect()(0).getLong(0)
    assert(sw.count() == expectedSessions)
    assert(sw.agg(sum("n_events")).collect()(0).getLong(0) == events.count())
  }
}
