package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + invariant tests for SURVEY.md §2 blocks A-C on sf0.001.
  * Cross-engine value correctness is covered by the DuckDB oracle gate
  * (Verify + oracleSql); these specs assert structural invariants.
  */
class CoreQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val df = QueryClue(name)(fn(spark, dir))
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("q55 registers only the events view it queries") {
    val s = spark.newSession()
    SparkEntry.queries("q55_sql_interface")(s, dir)
    assert(s.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet == Set("events"))
  }

  test("Verify.dump over a missing table dir fails every query but q97, isolated, and still writes the oracle SQL") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify_probe")
    try {
      val failed = Verify.dump(spark, "/nonexistent", out.toString)
      assert(failed.toSet == SparkEntry.queries.keySet - "q97_goes_irradiance")
      assert(java.nio.file.Files.exists(out.resolve("oracle_sql.json")))
      assert(java.nio.file.Files.isDirectory(out.resolve("q97_goes_irradiance")))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(out).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("q01 groups cover all flag/status combos present") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val li = sources.Tables.lineitem(spark, dir)
    assert(df.count() ==
      li.select("l_returnflag", "l_linestatus").distinct().count())
  }

  test("q10 latest-per-key has one row per user") {
    val df = SparkEntry.queries("q10_latest_per_key")(spark, dir)
    val users = sources.Tables.events(spark, dir)
      .select("user_id").distinct().count()
    assert(df.count() == users)
    assert(df.select("user_id").distinct().count() == users)
  }

  test("q17 sessionize: session counts sum to event count") {
    val df = SparkEntry.queries("q17_sessionize")(spark, dir)
    val total = df.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect()(0).getLong(0)
    assert(total == sources.Tables.events(spark, dir).count())
  }

  test("q13 rollup row count equals distinct (minute,type) pairs") {
    val df = SparkEntry.queries("q13_rollup_minute")(spark, dir)
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, dir)
    assert(df.count() == ev.select(
      date_trunc("minute", col("ts")), col("event_type")).distinct().count())
  }

  test("approx_count_distinct is within 5% of exact (HLL scale path)") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, dir)
    val Array(approx, exact) = ev.agg(
      approx_count_distinct("user_id").cast("double"),
      countDistinct("user_id").cast("double")).collect()(0)
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("q64 approx aggregates track the exact twins per group") {
    import org.apache.spark.sql.functions._
    val ev = sources.Tables.events(spark, dir)
    val approx = SparkEntry.queries("q64_approx_aggregates")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.95)).as("p95"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (u, p50, p95, n)) =>
      val (au, ap50, ap95, an) = approx(k)
      assert(an == n, s"$k: row count must be exact")
      assert(math.abs(au - u).toDouble / u < 0.1, s"$k: HLL users off: $au vs $u")
      // approx_percentile returns an element of the value set near the
      // target rank; exact `percentile` interpolates — compare loosely
      assert(math.abs(ap50 - p50) / math.max(p50.abs, 1.0) < 0.1,
        s"$k: p50 off: $ap50 vs $p50")
      assert(math.abs(ap95 - p95) / math.max(p95.abs, 1.0) < 0.1,
        s"$k: p95 off: $ap95 vs $p95")
    }
  }

  test("hash split: deterministic, disjoint, roughly proportional") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, dir)
    val s1 = operators.TextAnalysis.hashSplit(docs)
    val s2 = operators.TextAnalysis.hashSplit(docs)
    // deterministic: same assignment on re-run
    assert(s1.select("doc_id", "split").exceptAll(s2.select("doc_id", "split")).isEmpty)
    // every doc in exactly one split
    assert(s1.count() == docs.count())
    val counts = s1.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.9, s"train too small: $counts")
    assert(counts.getOrElse("val", 0L) + counts.getOrElse("test", 0L) > 0,
      s"holdout splits empty: $counts")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = SparkEntry.queries("q02_filter_pushdown")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("l_shipdate"),
      s"expected pushed filters in:\n$plan")
  }

  test("star join broadcasts the dimension tables") {
    val df = SparkEntry.queries("q03_join_dims")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("text operators tolerate null, empty, and whitespace-only documents") {
    // the generated corpus has none of these, so pin the degenerate-
    // input behavior a real crawl WILL contain: no operator crashes,
    // and windowed/shingled operators drop the docs (no tokens => no
    // windows) rather than emitting null-keyed garbage
    import spark.implicits._
    import graft.operators.{Dedup, Sampling, TextAnalysis}
    val docs = Seq(
      (0L, null.asInstanceOf[String], "en", "s", 0L),
      (1L, "", "en", "s", 0L),
      (2L, "   \t  ", "en", "s", 6L),
      (3L, "one real document with enough words to make windows", "en", "s", 51L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sub = Dedup.substringDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sub.keySet == Set(3L) && sub(3L) == 2L,
      s"degenerate docs leaked into the window stream: $sub")
    val rep = TextAnalysis.repetition(docs)
      .collect().map(_.getLong(0)).toSet
    assert(rep == Set(3L), s"repetition emitted degenerate docs: $rep")
    val dsir = Sampling.dsirWeights(docs).collect().map(_.getLong(0)).toSet
    assert(dsir == Set(3L), s"dsir scored docs with no bigrams: $dsir")
    // per-doc profile operators must keep every row (they report ON
    // the degenerate docs rather than dropping them)
    assert(TextAnalysis.tokenStats(
      docs.withColumn("lang", $"lang")).collect().nonEmpty)
    assert(TextAnalysis.qualityScore(docs).count() == 4L,
      "quality score must profile degenerate docs, not drop them")
  }
}
