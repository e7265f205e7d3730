package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables
import graft.streaming.EventStream

/** The data contract ([[graft.sources.Tables.schemas]]) against the
  * data on disk. Every table is read with its declared schema, and a
  * load checks that schema against the parquet footer before reading.
  * Type drift in `events.ts` has broken the bench silently twice
  * (every event-time query died in the bench while the suite stayed
  * green), so these specs pin the contract against every graded SF
  * dir, and pin that a copy which breaks it fails at load with the
  * table, column and both types named instead of reading NULLs or
  * failing mid-query. Reading the contract starts no Spark job: a
  * load or a stream open builds its DataFrame without schema
  * inference.
  */
class DataContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()

  // every graded SF dir, plus the 10× dev point when present
  private val sfDirs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "/tmp/sf1")
    .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))

  test("all graded SF dirs are present to pin") {
    assert(sfDirs.count(_.startsWith("/root/testdata")) == 3,
      s"graded SF dirs missing from /root/testdata — found only $sfDirs")
  }

  test("events.ts loads as session-TZ TimestampType in every SF dir") {
    for (d <- sfDirs) {
      val dt = Tables.events(spark, d).schema("ts").dataType
      assert(dt == TimestampType,
        s"$d: events.ts loaded as $dt, not TimestampType — the declared " +
          "events schema in Tables.schemas no longer says timestamp")
    }
  }

  test("streaming open + watermark analyzes against every SF dir") {
    for (d <- sfDirs) {
      val wm = EventStream.readEventStream(spark, d)
        .withWatermark("ts", "10 minutes")
      assert(wm.isStreaming, s"$d: expected an unbounded source")
      assert(wm.schema("ts").dataType == TimestampType,
        s"$d: streamed ts surfaced as ${wm.schema("ts").dataType}")
      // force full analysis: EventTimeWatermark must accept the column
      wm.queryExecution.analyzed
    }
  }

  // The column set each table must expose — these names are baked
  // into every operator and every DuckDB oracle, so a regen that
  // drops or renames one must go red HERE with the table named, not
  // as a scatter of unresolved-column errors mid-suite.
  private val canonicalCols: Map[String, Set[String]] = Map(
    "region" -> Set("r_regionkey", "r_name"),
    "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Set("event_id", "ts", "user_id", "event_type", "value",
      "props"),
    "documents" -> Set("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Set("vec_id", "embedding", "label"))

  test("every canonical table loads non-empty with its full column set") {
    for (d <- sfDirs; t <- Tables.names) {
      val df = Tables.load(spark, d, t)
      val missing = canonicalCols(t) -- df.columns.toSet
      assert(missing.isEmpty,
        s"$d/$t: regen dropped or renamed columns $missing")
      assert(df.limit(1).count() == 1L, s"$d/$t: table is empty")
    }
  }

  test("documents.text is non-null in every SF dir (the dedup-convention contract)") {
    // The dedup family treats empty text as one ""-token document
    // (lineDedup's convention, matched by every oracle) but treats
    // NULL text as out-of-contract: substrRemovalAgainst's
    // size(w) >= 1 guard drops such a row, while the DuckDB oracle's
    // LEFT JOIN from toks would keep it with NULL n_tokens — a
    // latent cross-engine divergence (r16 ADVICE). This pin makes
    // the convention enforceable: a regen that lands NULL texts goes
    // red HERE, not as a q124 hash mismatch in the driver's gate.
    import org.apache.spark.sql.functions.col
    for (d <- sfDirs) {
      val nNull = Tables.load(spark, d, "documents")
        .filter(col("text").isNull).count()
      assert(nNull == 0L,
        s"$d: $nNull NULL-text documents — the dedup operators' " +
          "non-null text convention no longer holds; either clean the " +
          "regen or coalesce text to '' in BOTH engines")
    }
  }

  test("operator-critical dtypes hold in every SF dir") {
    import org.apache.spark.sql.types._
    for (d <- sfDirs) {
      // Similarity/Dedup fold over Array[Float] — a regen that lands
      // double-element vectors changes every cosine beyond parity
      val emb = Tables.load(spark, d, "embeddings").schema("embedding")
      assert(emb.dataType == ArrayType(FloatType, containsNull = true) ||
        emb.dataType == ArrayType(FloatType, containsNull = false),
        s"$d: embeddings.embedding is ${emb.dataType}, not array<float>")
      val doc = Tables.load(spark, d, "documents").schema
      assert(doc("doc_id").dataType == LongType &&
        doc("text").dataType == StringType,
        s"$d: documents key/text dtype drift " +
          s"(${doc("doc_id").dataType}, ${doc("text").dataType})")
      // the date-era contract: order/ship dates must CAST to
      // session-TZ timestamp (the engine's unix_micros path) — both
      // NTZ (current era) and plain timestamp satisfy this
      val casted = Tables.orders(spark, d)
        .select(org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("o_orderdate").cast("timestamp")))
      casted.queryExecution.analyzed
    }
  }

  test("a not-yet-populated events source opens on the fallback schema") {
    val d = java.nio.file.Files.createTempDirectory("graft_empty_src").toString
    val wm = EventStream.readEventStream(spark, d)
      .withWatermark("ts", "10 minutes")
    assert(wm.isStreaming && wm.schema("ts").dataType == TimestampType)
  }

  test("a matched-but-uncommitted events source opens on the fallback schema") {
    // the startup race the round-11 narrowing reintroduced: the
    // producer has CREATED events.parquet (so the glob matches) but
    // committed no data yet — only a _temporary spill, a _SUCCESS
    // marker, and a still-zero-length part file. Schema inference
    // would throw "Unable to infer schema"; open must treat this like
    // an unmatched glob and start the stream on the declared schema.
    val d = java.nio.file.Files.createTempDirectory("graft_midwrite_src")
    val src = d.resolve("events.parquet")
    java.nio.file.Files.createDirectories(src.resolve("_temporary").resolve("0"))
    java.nio.file.Files.write(
      src.resolve("_temporary").resolve("0").resolve("part-00000"),
      "in-flight bytes".getBytes)
    java.nio.file.Files.write(src.resolve("_SUCCESS"), Array.empty[Byte])
    java.nio.file.Files.write(
      src.resolve("part-00000-open.snappy.parquet"), Array.empty[Byte])
    val wm = EventStream.readEventStream(spark, d.toString)
      .withWatermark("ts", "10 minutes")
    assert(wm.isStreaming && wm.schema("ts").dataType == TimestampType)
  }

  test("a corrupt events source fails at open, not at stream runtime") {
    val d = java.nio.file.Files.createTempDirectory("graft_corrupt_src")
    java.nio.file.Files.write(d.resolve("events.parquet"),
      "this is not a parquet file".getBytes)
    // the round-10 catch-all caught every AnalysisException, so a
    // corrupt source silently started the stream on the fallback
    // schema and failed mid-batch where nothing names the bad file;
    // the open must throw instead
    intercept[Exception] {
      EventStream.readEventStream(spark, d.toString)
    }
  }

  /** A copy of the smallest SF dir's `events` rewritten by Spark through `edit`, as
    * a table dir holding `events.parquet`.
    */
  private def eventsCopy(prefix: String)(
      edit: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    edit(Tables.events(spark, sfDirs.head))
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("an events copy with props dropped fails at load, naming the drift") {
    val d = eventsCopy("graft_drop_props")(_.drop("props"))
    val e = intercept[IllegalArgumentException](Tables.load(spark, d, "events"))
    for (part <- Seq("events", "props", "declared string", "(missing)"))
      assert(e.getMessage.contains(part), s"'$part' not in: ${e.getMessage}")
  }

  test("an events copy with value written as string fails at load, naming the drift") {
    import org.apache.spark.sql.functions.col
    val d = eventsCopy("graft_value_string")(
      df => df.withColumn("value", col("value").cast("string")))
    val e = intercept[IllegalArgumentException](Tables.load(spark, d, "events"))
    for (part <- Seq("events", "value", "declared double", "found string"))
      assert(e.getMessage.contains(part), s"'$part' not in: ${e.getMessage}")
  }

  test("a TIMESTAMP(NANOS) events file fails at load, naming the column's parquet type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val d = java.nio.file.Files.createTempDirectory("graft_nanos_ts").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$d/events.parquet"), conf))
      .withConf(conf).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L)
      .append("user_id", 2L).append("event_type", "click")
      .append("value", 1.5).append("props", "{}"))
    finally w.close()
    val e = intercept[IllegalArgumentException](Tables.load(spark, d, "events"))
    for (part <- Seq("events", "column ts", "declared timestamp", "TIMESTAMP(NANOS"))
      assert(e.getMessage.contains(part), s"'$part' not in: ${e.getMessage}")
  }

  test("a Spark-written (UTC-adjusted ts) events copy loads with the original ts") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.functions.col
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    val d = try eventsCopy("graft_utc_ts")(identity)
            finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val part = new java.io.File(s"$d/events.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.toString),
      new org.apache.hadoop.conf.Configuration()))
    val schema = try reader.getFooter.getFileMetaData.getSchema
                 finally reader.close()
    val ts = schema.getType(schema.getFieldIndex("ts"))
    assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
      true, LogicalTypeAnnotation.TimeUnit.MICROS), s"written ts is $ts")
    // the original's instants: its TIMESTAMP_NTZ micros read as UTC
    val orig = spark.read.parquet(s"${sfDirs.head}/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    val copy = Tables.load(spark, d, "events").select("event_id", "ts")
    assert(copy.schema("ts").dataType == TimestampType)
    assert(copy.count() == orig.count())
    assert(copy.exceptAll(orig).isEmpty && orig.exceptAll(copy).isEmpty)
  }

  /** Job count per job group for every `(group, body)`, each body run
    * under its own group. A sentinel job started after the bodies is
    * awaited, so every job a body started has been delivered to the
    * listener (one listener queue delivers in order) before counting.
    */
  private def jobsByGroup(bodies: Seq[(String, () => Any)]): Map[String, Int] = {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for ((g, body) <- bodies) {
        sc.setJobGroup(g, g)
        try body() finally sc.clearJobGroup()
      }
      sc.setJobGroup("sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains("sentinel"), "listener never saw the sentinel job")
      bodies.map { case (g, _) => g -> groups.asScala.count(_ == g) }.toMap
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.load of each of the ten tables starts no Spark job") {
    val jobs = jobsByGroup(Tables.names.map(t =>
      t -> (() => Tables.load(spark, sfDirs.head, t))))
    assert(jobs.size == 10)
    assert(jobs.values.forall(_ == 0), s"jobs per load: $jobs")
  }

  test("readEventStream on a populated source starts no Spark job") {
    val jobs = jobsByGroup(Seq(
      "stream" -> (() => EventStream.readEventStream(spark, sfDirs.head))))
    assert(jobs("stream") == 0, s"opening the stream started ${jobs("stream")} job(s)")
  }
}
