package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingestion / semi-structured extraction — SURVEY.md §2 block C.
  *
  * The reference's Airflow DAGs normalize heterogeneous inputs into
  * canonical JSON records before producing to Kafka: web-access-log
  * regex parsing (database_etl.py:231-255), JSON event payloads
  * (real_data_etl.py / demoKafka.py), and NetCDF variable-alias
  * normalization with NaN-cleaning + provenance enrichment
  * (goes_satellite_etl.py:218-289). Here each is a pure Column
  * pipeline — codegen'd, no UDFs, fully distributed.
  */
object Ingest {

  /** Apache combined-log regex (database_etl.py:231). */
  val logPattern = """(\S+) - - \[([^\]]+)\] "(\S+) (\S+) HTTP/1.1" (\d+) (\d+)"""

  /** Render events as web-access-log lines (deterministic projection
    * of the events table — stands in for a raw log file source).
    */
  def toLogLines(events: DataFrame): DataFrame =
    events.select(
      $"event_id",
      concat(
        lit("192.168."), ($"user_id" % 256).cast("string"),
        lit("."), ($"event_id" % 256).cast("string"),
        lit(" - - ["), date_format($"ts", "dd/MMM/yyyy:HH:mm:ss Z"),
        lit("] \""),
        when($"event_type".isin("purchase", "signup"), "POST").otherwise("GET"),
        lit(" /"), $"event_type", lit(" HTTP/1.1\" "),
        when($"event_type" === "error", 500L).otherwise(200L).cast("string"),
        lit(" "), floor($"value" * 10).cast("long").cast("string")
      ).as("line"))

  /** Parse access-log lines → structured records
    * (database_etl.py:240-253: ip/method/url/status/size extraction).
    *
    * One regex execution per row: the native
    * [[graft.functions.RegexpGroups]] expression captures every group
    * in a single `find()`. The per-column `regexp_extract` form runs
    * the match once per extracted column — and CollapseProject inlines
    * the (expensive, concat+date_format) `line` subtree into each copy
    * too, so 5 columns cost 5 renders + 5 matches per row (measured
    * ~4× slower). The `explode(array(…))` generator is a one-row
    * barrier: CollapseProject cannot cross a Generate, so the group
    * array is materialized once and the final projection reads plain
    * array elements. Still fully codegen'd end to end.
    */
  private def parsedLines(lines: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(lines.sparkSession)
    lines
      .select($"event_id",
        explode(array(call_function("graft_regexp_groups", $"line",
          lit(logPattern)))).as("g"))
      .select(
        $"event_id",
        $"g"(0).as("ip_address"),
        $"g"(2).as("method"),
        $"g"(3).as("url"),
        $"g"(4).cast("int").as("status_code"),
        $"g"(5).cast("long").as("response_size"))
  }

  /** Order the cheap event source columns up front (explicit range
    * partitioning + in-partition sort ≡ the same global event_id
    * order) so a heavy per-row stage built on top runs ONCE, after
    * the exchange, on every core — the q41 restructure (r20, guide
    * §4.4-class duplicate evaluation: a final ORDER BY's range
    * sampler re-executes everything below it a second time, and the
    * one-row-group local inputs scan as a single task).
    */
  private def orderedEvents(events: DataFrame,
                            cols: org.apache.spark.sql.Column*): DataFrame =
    events.select(cols: _*)
      .repartitionByRange(Par.parts(events), $"event_id")
      .sortWithinPartitions($"event_id")

  /** End-to-end: events → log lines → parsed structured records. */
  def logParse(events: DataFrame): DataFrame =
    parsedLines(toLogLines(orderedEvents(events,
      $"event_id", $"user_id", $"ts", $"event_type", $"value")))

  /** JSON payload extraction + aggregation (the Kafka topics carry
    * JSON objects; Druid ingests typed dimensions from them). The
    * `props` column holds a JSON document; we extract a typed field
    * and aggregate per derived bucket.
    */
  def jsonExtract(events: DataFrame): DataFrame =
    // fan the scan before the per-row JSON parse (identity at scale)
    Par.fan(events, $"event_id")
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .filter($"k".isNotNull)
      .groupBy(($"k" % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        min($"k").as("min_k"),
        max($"k").as("max_k"))
      .orderBy($"k_bucket")

  /** Kafka-message round trip: serialize events to the JSON wire shape
    * the reference's producers emit (real_data_etl.py:43-50 crypto
    * records: timestamp/id/value/source), then parse back with the
    * declared wire schema — `to_json`/`from_json` are the codegen'd
    * serde pair a Spark Kafka source/sink uses.
    */
  def kafkaRoundTrip(events: DataFrame): DataFrame = {
    // ordered-first (see orderedEvents): the to_json/from_json serde
    // pair runs once, post-exchange, instead of twice in the scan task
    val wire = orderedEvents(events,
        $"event_id", $"ts", $"event_type", $"value")
      .select(
        $"event_id",
        to_json(struct(
          unix_micros($"ts").as("timestamp"),
          $"event_type".as("kind"),
          $"value".as("value"),
          lit("events").as("source"))).as("json"))
    wire
      .withColumn("rec", from_json($"json", graft.streaming.EventStream.wireSchema))
      .select(
        $"event_id",
        $"rec.timestamp".as("timestamp"),
        $"rec.kind".as("kind"),
        $"rec.value".as("value"),
        $"rec.source".as("source"))
  }

  /** Canonical-schema normalization (goes_satellite_etl.py:241-289):
    * epoch-time conversion, NaN→0 measure cleaning, categorical
    * channel labels (`channel_{i % 4}`, goes_satellite_etl.py:262),
    * and provenance enrichment (source tag — goes_satellite_etl.py
    * :267-273 attaches source_file/extraction metadata).
    */
  def normalize(events: DataFrame): DataFrame =
    events.select(
      $"event_id",
      unix_micros($"ts").as("time_us"),
      concat(lit("channel_"), ($"user_id" % 4).cast("string")).as("channel"),
      when(isnan($"value"), 0.0).otherwise($"value").as("value_clean"),
      $"event_type".as("kind"),
      lit("events.parquet").as("source_file"))
      .orderBy($"event_id")

  /** Key-level upsert (MERGE latest-wins): the incremental-load
    * primitive — an updates batch replaces matching base rows and
    * appends the rest. Expressed as updates ∪ (base ⟂ updates): one
    * left-anti equi-join on the key plus a union, both
    * partition-parallel. At 100 TB the anti-join's shuffle is the
    * cost; with base and updates bucketed on the key (see
    * [[graft.sources.Bucketed]]) it is shuffle-free. Schemas must
    * align by name (unionByName enforces it).
    *
    * CDC batches routinely carry SEVERAL rows per key; latest must win
    * within the batch too, or the merged output has duplicate keys.
    * Pass `versionCol` (a total order within each key — ties broken
    * arbitrarily would be nondeterministic, so it must be unique per
    * key) and the batch is first reduced to one winning row per key
    * via a key-partitioned window — the same shuffle key as the
    * anti-join, so AQE/bucketing reuse applies. With `versionCol`
    * empty the CALLER asserts the batch is already key-unique (q75's
    * corrections/arrivals are disjoint by construction).
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String,
             versionCol: String = ""): DataFrame = {
    val latest =
      if (versionCol.isEmpty) updates
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col(versionCol).desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    latest.unionByName(
      base.join(latest.select(key), Seq(key), "left_anti"))
  }

  /** Declared upsert query (q75): a deterministic CDC batch against
    * the orders snapshot — ~10% price corrections (op=U) and ~5% new
    * orders under shifted keys (op=N) — merged latest-wins through
    * [[upsert]]. Money rides as exact integer cents.
    *
    * Plan shape (the 100-TB budget): THREE passes over the fact table
    * total, never more. (1) a column-pruned max(o_orderkey) aggregate
    * — arrival keys shift past the OBSERVED max (1-row broadcast
    * frame) so they can never collide with a real order at any scale
    * factor; a constant offset would silently overwrite real rows
    * once o_orderkey outgrew it. (2) ONE scan builds the whole CDC
    * batch: corrections (keys %100<10) and arrivals (%100>=95) have
    * disjoint predicates, so a single filtered pass with when/
    * otherwise emits either shape — no per-branch re-scan. The batch
    * (~15% of base) is `localCheckpoint`ed — the same bounded-
    * materialization judgment as dupClusters/bpeTrain — so the two
    * references [[upsert]] makes to it (union side + anti-join key
    * side) read the materialized frame instead of re-deriving the
    * update lineage. (3) the anti-join's scan of base itself. The
    * executed MERGE plan therefore scans orders ONCE
    * (ScanCountGateSpec pins it; round 7's naive form planned SEVEN
    * scans — each updates reference re-derived corrections, arrivals
    * and the max-key agg from fresh scans).
    */
  def ordersUpsert(orders: DataFrame): DataFrame = {
    val base = orders.select($"o_orderkey", $"o_orderstatus",
      round($"o_totalprice" * 100).cast("long").as("price_cents"),
      lit("B").as("op"))
    val maxKey = base.agg(max($"o_orderkey").as("max_key"))
    val isCorr = $"o_orderkey" % 100 < 10
    val updates = base.filter(isCorr || $"o_orderkey" % 100 >= 95)
      .crossJoin(broadcast(maxKey))
      .select(
        when(isCorr, $"o_orderkey")
          .otherwise($"o_orderkey" + $"max_key" + 1L).as("o_orderkey"),
        when(isCorr, lit("U")).otherwise(lit("N")).as("o_orderstatus"),
        when(isCorr, $"price_cents" + 500L)
          .otherwise($"price_cents").as("price_cents"),
        when(isCorr, lit("U")).otherwise(lit("N")).as("op"))
      .localCheckpoint(true)
    upsert(base, updates, "o_orderkey").orderBy($"o_orderkey")
  }
}
