package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact.{davg, dsum, dsumsq}

/** Time-series OLAP — SURVEY.md §2 block B.
  *
  * Re-expresses Druid's query surface over the reference's Kafka
  * topics: TIME_FLOOR bucketing (GOES_PIPELINE_REPORT.md:295-314),
  * queryGranularity rollup (druid-*-datasource.json), freshness and
  * timestamp-continuity data-quality checks (README.md:224-228), and
  * the storage-growth projections (goes_satellite_etl.py:415-489).
  *
  * All bucketing is `date_trunc` on the event-time column — a pure
  * projection, so rollups are one hash aggregation with map-side
  * partials. (bucket, key) grouping keys distribute evenly; no skew.
  */
object TimeSeries {

  /** TIME_FLOOR(__time,'PT1H') + AVG — GOES_PIPELINE_REPORT.md:297. */
  def hourlyAvg(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(davg($"value").as("avg_value"), count(lit(1)).as("n"))
      .orderBy($"hour")

  /** TIME_FLOOR(__time,'P1D') + MAX — GOES_PIPELINE_REPORT.md:308. */
  def dailyExtremes(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(max($"value").as("max_value"), min($"value").as("min_value"))
      .orderBy($"day")

  /** Druid queryGranularity=MINUTE ingestion rollup
    * (druid-goes-satellite-datasource.json granularitySpec): truncate
    * to minute, aggregate per (minute, dimension).
    */
  def minuteRollup(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("minute", $"ts").as("minute"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .orderBy($"minute", $"event_type")

  /** Per-source record stats — GOES_PIPELINE_REPORT.md:275-283
    * (COUNT/MIN(__time)/MAX(__time) per source_file).
    */
  def perSourceStats(documents: DataFrame): DataFrame =
    documents
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        sum($"n_chars").as("total_chars"))
      .orderBy($"source")

  /** Freshness check — README.md:318 (`COUNT(*) WHERE __time >
    * now - interval`): volume in the trailing 24h window relative to
    * the newest event. The max-ts bound is a 1-row broadcast join, so
    * the big side stays a single filtered scan.
    */
  def freshness(events: DataFrame): DataFrame = {
    val bounds = events.agg(max($"ts").as("max_ts"))
    events
      .crossJoin(broadcast(bounds))
      .filter($"ts" >= $"max_ts" - expr("INTERVAL 24 HOURS"))
      .agg(count(lit(1)).as("n_last_24h"), max($"ts").as("max_ts"))
  }

  /** Timestamp-continuity gap detection — README.md:226 ("Gap
    * detection in time series"). Per-user lag window; emits gaps
    * larger than the threshold with microsecond-exact durations.
    */
  def gaps(events: DataFrame, thresholdUs: Long = 3600L * 1000000L): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("gap_us", unix_micros($"ts") - unix_micros($"prev_ts"))
      .filter($"gap_us" > thresholdUs)
      .select($"user_id", $"prev_ts", $"ts", $"gap_us")
      .orderBy($"user_id", $"ts")
  }

  /** Gap-based sessionization (30-min inactivity): running sum over a
    * new-session indicator. Partitioned by user — embarrassingly
    * parallel; state per user is one row in flight.
    */
  def sessionize(events: DataFrame, gapUs: Long = 1800L * 1000000L): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
             unix_micros($"ts") - unix_micros($"prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"),
        dsum($"value").as("session_value"))
      .orderBy($"user_id", $"session_id")
  }

  /** Native session-window sessionization — the Spark-first form of
    * [[sessionize]]: `session_window(ts, gap)` merges events into
    * sessions inside the aggregation operator itself (no per-user sort
    * chain, streaming-capable with a watermark). Session end is
    * last-event + gap, per Spark/Flink session-window semantics.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window($"ts", gap).as("sw"), $"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        dsum($"value").as("session_value"))
      .select($"user_id", $"sw.start".as("session_start"),
        $"sw.end".as("session_end"), $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")

  /** Time-weighted average per user (the Druid/time-series "TWA"):
    * each value is weighted by its holding duration (until the next
    * event). Exact arithmetic: decimal value × integer micros, summed
    * exactly, divided as double by the total span.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .withColumn("t", unix_micros($"ts"))
      .withColumn("next_t", lead($"t", 1).over(w))
      .filter($"next_t".isNotNull)
      .withColumn("dur", $"next_t" - $"t")
      // integer cents × integer micros: sums stay exact longs; a
      // decimal sum cast to double here would hit engine-dependent
      // last-ulp rounding for >2^53 significands
      .withColumn("wc", round($"value" * 100).cast("long") * $"dur")
      .groupBy($"user_id")
      .agg(
        sum($"wc").as("weighted_cents"),
        sum($"dur").as("total_dur"),
        count(lit(1)).as("n_intervals"))
      .withColumn("twa", $"weighted_cents" / 100.0 / $"total_dur")
      .select($"user_id", $"n_intervals", $"total_dur", $"twa")
      .orderBy($"user_id")
  }

  /** Z-score anomaly detection per event_type (README.md "Machine
    * Learning: Anomaly detection"). Moments come from exact decimal
    * sums (see [[graft.functions.Exact]]) so the derived doubles are
    * identical on any cluster size; the z formula is then pure
    * per-row arithmetic. Stats side is tiny → broadcast back.
    */
  def anomalies(events: DataFrame, z: Double = 1.5): DataFrame = {
    val stats = events
      .groupBy($"event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsum($"value").as("s"),
        dsumsq($"value").as("ss"))
      .withColumn("mean", $"s" / $"n")
      .withColumn("sd", sqrt(($"ss" - $"s" * $"s" / $"n") / ($"n" - 1)))
      .select($"event_type".as("t"), $"mean", $"sd")
    events
      .join(broadcast(stats), $"event_type" === $"t")
      .withColumn("zscore", ($"value" - $"mean") / $"sd")
      .filter($"sd" > 0 && abs($"zscore") > z)
      .select($"event_id", $"event_type", $"value", $"zscore")
      .orderBy($"event_id")
  }

  /** Range (interval) self-join: pairs of a user's events within
    * `windowUs` of each other. A naive inequality join is O(n²) per
    * key; here candidates are blocked on coarse time buckets — each
    * row lands in its own bucket and joins bucket b against b and b+1
    * (bucket width = window, so any qualifying pair shares a bucket or
    * sits in adjacent ones), then the exact predicate filters. Shuffle
    * is on (user, bucket): the scalable range-join pattern.
    */
  def eventPairsWithin(events: DataFrame, windowUs: Long = 300L * 1000000L): DataFrame = {
    val e = events.select($"user_id", $"event_id", unix_micros($"ts").as("t"))
      .withColumn("bucket", floor($"t" / windowUs))
    // the a-side keeps one bucket; the b-side probes its own bucket ±1
    // (pair ordering is by event_id, so b can precede OR follow a in
    // time — both directions must reach a's bucket)
    val probe = e.select($"user_id", $"event_id", $"t",
        explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)).as("bucket"))
    val pairs = e.as("a").join(probe.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.event_id") < col("b.event_id"))
      .filter(col("b.t") - col("a.t") <= windowUs &&
              col("b.t") - col("a.t") >= -windowUs)
      .select(col("a.user_id").as("user_id"),
        col("a.event_id").as("event_a"), col("b.event_id").as("event_b"),
        (col("b.t") - col("a.t")).as("delta_us"))
    // no dedup needed: a.bucket === b.bucket and b explodes three
    // DISTINCT bucket values, so each qualifying pair matches exactly
    // one exploded row — a dropDuplicates here would be a wasted
    // full shuffle of the largest intermediate
    pairs.orderBy($"user_id", $"event_a", $"event_b")
  }

  /** Druid-style sketch rollup (q110): per-(source, day) HLL user
    * sketches at ingest grain, then coarser distinct-user rollups as
    * sketch UNIONS — the two-level pattern behind Druid's
    * HLLSketchBuild/HLLSketchMerge metric pair, and THE reason a
    * sketch column beats re-scanning raw events at 100 TB: the
    * ingest-grain aggregation runs once and materializes ~bytes per
    * (source, day); every later rollup (any window, any grouping
    * coarsening) unions those fixed-size sketches — work proportional
    * to the number of GRAINS, not events. Spark's native datasketches
    * HLL functions keep it codegen-friendly and mergeable across
    * partitions (union is associative+commutative, so the two-phase
    * distributed aggregate is exact over sketch state — the
    * one-level/two-level equality is spec-pinned, as is the estimate
    * error against exact distinct counts).
    */
  def sketchRollup(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id").as("sk"),
        count(lit(1)).as("events"))
    daily
      .groupBy($"event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg($"sk")).as("distinct_users"),
        count(lit(1)).as("days"),
        sum($"events").as("events"))
      .orderBy($"event_type")
  }

  /** Mergeable quantile-sketch rollup (q120) — the Druid `quantiles`
    * analog of q110's HLL pair (druid-*-datasource.json rollup
    * granularity; the percentile-style ops metrics of
    * GOES_PIPELINE_REPORT.md:275-314): per-(event_type, day) VALUE
    * sketches at ingest grain, then coarser-grain percentile rollups
    * as SKETCH MERGES — work proportional to grains × bins, never a
    * raw re-scan. The sketch is a fixed LOG-GRID histogram:
    *
    *   bin(v) = sign(v) · floor(log2(1 + |v|) · [[QsBinsPerOctave]])
    *
    * — value-independent (mergeable with no bounds pre-pass, unlike a
    * min/max-derived grid), deterministic integer output (no float
    * sketch state), and each bin spans a bounded RELATIVE value
    * interval (adjacent edges differ by 2^(1/B) ≈ 1.044 at B=16), so
    * a percentile read off the merged histogram lands within a few
    * percent of the exact quantile (spec-bounded against q39's exact
    * percentiles). Merge is bin-count addition — associative and
    * commutative, so one-level ≡ two-level exactly (spec-pinned, the
    * q110 pattern) and Spark's partial aggregation is exact over
    * sketch state. NaN values are excluded (no total order; q38
    * counts them separately).
    *
    * At 100 TB: the daily sketch table is (types × days × ≤~150 bins)
    * rows — the ingest-time rollup materializes once, and every
    * later percentile query (any window, any grain coarsening) is an
    * integer-sum merge of those rows.
    */
  val QsBinsPerOctave = 16

  private def vbin(v: Column): Column =
    (signum(v) * floor(log2(lit(1.0) + abs(v)) * QsBinsPerOctave))
      .cast("long")

  /** Bin expression hardened for non-finite input (r14, ADVICE): ±Inf
    * must not enter the numeric grid — +Inf would bin to Long.MaxValue
    * (percentile reads back as Infinity) and -Inf to Long.MinValue,
    * where binMid's abs(bin) overflows under non-ANSI semantics and
    * SIGN-FLIPS the reported percentile to +1.0. Instead an infinite
    * value lands in the NULL sentinel bin: it still merges by plain
    * bin-count addition (NULL is an ordinary group key), is counted
    * separately (`n_nonfinite` in [[quantileRollup]]), and can never
    * be picked as a percentile bin (the cum-window skips it and
    * `min(when(...))` ignores NULL). NaN stays excluded entirely —
    * it has no total order, the q38 convention.
    */
  private def vbinFinite(v: Column): Column =
    when(abs(v) =!= Double.PositiveInfinity, vbin(v))

  /** Midpoint value of a log-grid bin (sign-aware; bin 0 covers the
    * (-ε, +ε) band around zero where ε = 2^(1/B)-1 and reads as its
    * positive midpoint).
    */
  private def binMid(b: Column): Column = {
    def edge(k: Column): Column =
      pow(lit(2.0), k.cast("double") / QsBinsPerOctave) - lit(1.0)
    val mag = (edge(abs(b)) + edge(abs(b) + 1)) / lit(2.0)
    when(b >= 0, mag).otherwise(-mag)
  }

  /** Ingest-grain sketch rows: (event_type, day, bin, n). `bin` is
    * NULL for non-finite (±Inf) values — see [[vbinFinite]].
    */
  def dailyValueSketch(events: DataFrame): DataFrame =
    // NULL is excluded alongside NaN (r15, ADVICE): isnan(NULL) is
    // false in Spark, so without the explicit isNotNull a NULL value
    // sailed through the filter, binned to the NULL sentinel, and
    // was REPORTED as n_nonfinite — a missing measurement counted as
    // an infinity. A NULL value is no observation at all; ±Inf is an
    // observation with unusable magnitude. Only the latter is counted.
    events.filter($"value".isNotNull && !isnan($"value"))
      .groupBy($"event_type", to_date($"ts").as("day"),
        vbinFinite($"value").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Coarse-grain percentile rollup from merged daily sketches:
    * per event_type, approx p25/p50/p75/p95 plus n_values (finite
    * values only), n_nonfinite (±Inf rows, counted but never binned
    * — see [[vbinFinite]]), and the sketch row count actually merged.
    * The only corpus-sized work is the daily sketch build; everything
    * after runs on sketch rows. A type whose values are ALL
    * non-finite reports NULL percentiles — explicit absence, not a
    * sign-flipped number.
    */
  def quantileRollup(events: DataFrame): DataFrame =
    quantileRollupFrom(dailyValueSketch(events))

  /** Percentile read over an ALREADY-MATERIALIZED sketch-row frame —
    * any frame carrying (event_type, bin, n) at any grain: the live
    * [[dailyValueSketch]], or the PERSISTED segment table
    * ([[graft.streaming.EventStream.storedValueSketch]], q121). This
    * is the Druid query side: re-merging to the asked grain is a
    * bin-count sum over sketch rows; no raw event is touched.
    */
  def quantileRollupFrom(sketchRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = sketchRows
      .groupBy($"event_type", $"bin")
      .agg(sum($"n").as("n"))
    // NULL-bin rows (non-finite values) sort FIRST, carry a finite
    // contribution of 0 into the running sum, and can never be the
    // picked bin — percentiles are read over finite mass only, and
    // the non-finite count is surfaced as its own column instead of
    // silently poisoning a quantile (r14, ADVICE).
    val fin = when($"bin".isNotNull, $"n").otherwise(lit(0L))
    val w = Window.partitionBy($"event_type").orderBy($"bin".asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"event_type")
    val cum = merged
      .withColumn("cum", sum(fin).over(w))
      .withColumn("total", sum(fin).over(wAll))
      .withColumn("nonfinite",
        sum(when($"bin".isNull, $"n").otherwise(lit(0L))).over(wAll))
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")
    val pickAggs = count(when($"bin".isNotNull, lit(1))).as("n_bins") +:
      max($"nonfinite").as("n_nonfinite") +:
      qs.map { case (q, nm) =>
        min(when($"cum" >= $"total" * q && $"bin".isNotNull, $"bin"))
          .as(s"bin_$nm")
      }
    val picked = cum.groupBy($"event_type")
      .agg(max($"total").as("n_values"), pickAggs: _*)
    picked.select(Seq($"event_type", $"n_values", $"n_nonfinite",
      $"n_bins") ++
      qs.map { case (_, nm) => binMid(col(s"bin_$nm")).as(nm) }: _*)
      .orderBy($"event_type")
  }

  /** KMV (k-minimum-values) theta-sketch intersection (q116): the
    * distinct-user overlap between every pair of event types,
    * estimated from per-type sketches of the [[KmvK]] smallest
    * xxhash64(user_id) values — the Beyer et al. 2007 KMV synopsis /
    * Druid-Theta-sketch set-operation pattern. An EXACT pairwise
    * overlap needs a distinct-user join per type pair; the sketch
    * answers every pair from nTypes × K rows.
    *
    * Estimator: for a pair, union the two sketches, keep the K
    * smallest distinct hashes (K = min([[KmvK]], |union|)), let θ be
    * the K-th smallest mapped to u ∈ (0,1): est_union = (K-1)/u, and
    * est_inter = (n_both / K) · est_union where n_both counts kept
    * hashes present in BOTH sketches. The same combined sketch
    * answers Druid's full set-operation triple (r15): n_a_only /
    * n_b_only count kept hashes on exactly one side, and
    * est_a_not_b / est_b_not_a scale them by the identical
    * est_union/K factor — so est_inter + est_a_not_b + est_b_not_a
    * ≡ est_union by construction (the counts partition K),
    * spec-asserted. Losslessness is decided from
    * per-type SATURATION (distinct count exceeded [[KmvK]]), not from
    * the union size: when neither source sketch saturated, both hold
    * every distinct hash of their type, so the pair's union — even
    * one of exactly [[KmvK]] hashes, the boundary the old
    * `|union| < K` test missed — is complete and the estimate
    * collapses to the exact count with zero error. Only a pair
    * touching a saturated sketch takes the θ estimator. Relative
    * error there ~1/√K (≈6% at K=256), spec-bounded against the
    * exact overlap in NewOpsSpec.
    *
    * Scale shape: one (event_type, h) distinct shuffle — the same
    * dedup any exact distinct pays ONCE — then a per-type top-K
    * window; everything pairwise runs on nTypes × K sketch rows
    * (checkpointed — the reusable synopsis). The k-smallest-of-a-set
    * sketch is partitioning-invariant by construction, so the whole
    * output is deterministic; it stays rows-only in the oracle gate
    * only because xxhash64 has no DuckDB twin.
    */
  val KmvK = 256

  def kmvIntersect(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = events
      .select($"event_type", xxhash64($"user_id").as("h"))
      .distinct()
    // one window pass yields both the K-min sketch rows and the
    // per-type saturation flag (did the type's distinct count exceed
    // K — i.e. did the sketch DROP anything): the partition is
    // already sorted for row_number, so the full-partition count adds
    // no extra exchange
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val wAll = Window.partitionBy($"event_type")
    val sk = hashed.withColumn("rk", row_number().over(w))
      .withColumn("sat", count(lit(1)).over(wAll) > KmvK)
      .filter($"rk" <= KmvK)
      .select($"event_type", $"h", $"sat")
      .localCheckpoint(true)
    val types = sk.select($"event_type", $"sat").distinct()
    val typePairs = types.as("ta").crossJoin(broadcast(types.as("tb")))
      .filter(col("ta.event_type") < col("tb.event_type"))
      .select(col("ta.event_type").as("type_a"),
        col("tb.event_type").as("type_b"),
        // a pair is lossless iff NEITHER source sketch dropped a hash
        (!col("ta.sat") && !col("tb.sat")).as("lossless"))
    val skh = sk.select($"event_type", $"h")
    val ua = typePairs
      .join(skh.withColumnRenamed("event_type", "type_a"), Seq("type_a"))
      .select($"type_a", $"type_b", $"lossless", $"h",
        lit(1).as("fa"), lit(0).as("fb"))
    val ub = typePairs
      .join(skh.withColumnRenamed("event_type", "type_b"), Seq("type_b"))
      .select($"type_a", $"type_b", $"lossless", $"h",
        lit(0).as("fa"), lit(1).as("fb"))
    val wp = Window.partitionBy($"type_a", $"type_b").orderBy($"h")
    val stats = ua.unionByName(ub)
      .groupBy($"type_a", $"type_b", $"lossless", $"h")
      .agg(max($"fa").as("in_a"), max($"fb").as("in_b"))
      .withColumn("rk", row_number().over(wp))
      // a lossless pair keeps its FULL union (which may hold exactly
      // K or more hashes — both complete, so nothing was lost); only
      // estimator-regime pairs truncate to the K smallest
      .filter($"rk" <= KmvK || $"lossless")
      .groupBy($"type_a", $"type_b", $"lossless")
      .agg(count(lit(1)).as("kmv_k"),
        max(when($"rk" <= KmvK, $"h")).as("theta"),
        sum(when($"in_a" === 1 && $"in_b" === 1, 1L).otherwise(0L))
          .as("n_both"),
        sum(when($"in_a" === 1 && $"in_b" === 0, 1L).otherwise(0L))
          .as("n_a_only"),
        sum(when($"in_a" === 0 && $"in_b" === 1, 1L).otherwise(0L))
          .as("n_b_only"))
    // signed-long hash mapped to u ∈ (0,1): (θ + 2^63 + 1) / 2^64
    val u = ($"theta".cast("double") + 9.223372036854776e18 + 1.0) /
      1.8446744073709552e19
    val exactRegime = $"lossless" || $"kmv_k" < KmvK
    def est(n: Column): Column =
      when(exactRegime, n.cast("double"))
        .otherwise(n.cast("double") / $"kmv_k" *
          (($"kmv_k" - 1).cast("double") / u))
    stats.select($"type_a", $"type_b", $"kmv_k", $"n_both",
      when(exactRegime, $"kmv_k".cast("double"))
        .otherwise(($"kmv_k" - 1).cast("double") / u).as("est_union"),
      est($"n_both").as("est_inter"),
      $"n_a_only", $"n_b_only",
      est($"n_a_only").as("est_a_not_b"),
      est($"n_b_only").as("est_b_not_a"))
      .orderBy($"type_a", $"type_b")
  }

  /** Storage-growth projections — goes_satellite_etl.py:415-489:
    * total/average payload size and extrapolated daily/weekly/monthly
    * growth assuming one source batch per minute (the reference's
    * GOES cadence, goes_satellite_etl.py:456).
    */
  def storageMetrics(documents: DataFrame): DataFrame =
    documents
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      .agg(
        count(lit(1)).as("n_sources"),
        sum($"n").as("n_docs"),
        sum($"chars").as("total_chars"))
      .withColumn("total_mb", $"total_chars" / 1024.0 / 1024.0)
      .withColumn("avg_record_kb", $"total_chars" / 1024.0 / $"n_docs")
      .withColumn("avg_source_mb", $"total_mb" / $"n_sources")
      .withColumn("daily_growth_mb", $"avg_source_mb" * 1440.0)
      .withColumn("weekly_growth_mb", $"daily_growth_mb" * 7.0)
      .withColumn("monthly_growth_mb", $"daily_growth_mb" * 30.0)
      .select($"n_sources", $"n_docs", $"total_chars", $"total_mb",
        $"avg_record_kb", $"daily_growth_mb", $"weekly_growth_mb",
        $"monthly_growth_mb")

  /** Two-step funnel: per user, the first `fromType` event and the
    * first `toType` event that follows it within `windowUs`.
    * Microseconds (exact longs) throughout.
    *
    * ONE event scan, ONE shuffle: the type filter (pushed to the
    * scan) keeps only the two funnel stages, a user-partitioned
    * window computes each user's first `fromType` timestamp across
    * its rows, and the follow-up minimum is a conditional aggregate
    * over the SAME user partitioning — Catalyst reuses the window's
    * hash partitioning for the groupBy, so no second exchange. The
    * round-7 three-lineage form (two filtered aggregates + join)
    * scanned events three times for the same answer; never the raw
    * event×event pair space either way.
    */
  def funnel(events: DataFrame, fromType: String = "click",
             toType: String = "purchase",
             windowUs: Long = 3600000000L): DataFrame = {
    val wu = Window.partitionBy($"user_id")
    events.filter($"event_type".isin(fromType, toType))
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("first_from_us",
        min(when($"event_type" === fromType, $"us")).over(wu))
      .filter($"first_from_us".isNotNull)
      .groupBy($"user_id")
      .agg(min($"first_from_us").as("first_from_us"),
        min(when($"event_type" === toType &&
          $"us" >= $"first_from_us" &&
          $"us" <= $"first_from_us" + windowUs, $"us")).as("first_to_us"))
      .select($"user_id", $"first_from_us", $"first_to_us",
        ($"first_to_us" - $"first_from_us").as("delta_us"),
        $"first_to_us".isNotNull.as("converted"))
      .orderBy($"user_id")
  }

  /** Hopping (sliding) windows: 10-minute windows advancing every 5 —
    * each event lands in exactly duration/slide windows via Spark's
    * native `window()` Expand (no self-join). The overlap factor is
    * the deliberate trade for smoother trend curves; state and output
    * scale by duration/slide, not data volume.
    */
  def hoppingWindows(events: DataFrame): DataFrame =
    events
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type",
        $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")

  /** Window-function variety over the event stream: previous/next
    * value and cumulative distribution per event type. The order-by
    * carries the unique event_id tie-break, so every frame — and
    * therefore every lag/lead/cume_dist value — is total-order
    * deterministic.
    */
  def valueSpread(events: DataFrame): DataFrame = {
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    events
      .select($"event_id", $"event_type", $"value")
      .withColumn("prev_value", lag($"value", 1).over(w))
      .withColumn("next_value", lead($"value", 1).over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy($"event_type", $"value", $"event_id")
  }

  /** Gap filling: densify each event type's minute series over its
    * observed [min, max] span and carry the last observation forward
    * into missing minutes (LOCF) — the interpolation step a
    * time-series store applies before charting sparse series. The
    * spine explode is bounded by groups × horizon (not event volume),
    * the LOCF window partitions by the series key so filling stays
    * partition-parallel at any key cardinality, and the fill itself
    * moves exact integers.
    */
  def gapFill(events: DataFrame): DataFrame = {
    // bounded (types × observed minutes) and referenced twice (spine
    // bounds + the fill join) — checkpointed so the second reference
    // reads the materialized frame, not a second full event scan
    val perMin = events
      .groupBy($"event_type", date_trunc("minute", $"ts").as("minute"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val spine = perMin.groupBy($"event_type")
      .agg(min($"minute").as("mn"), max($"minute").as("mx"))
      .select($"event_type",
        explode(sequence($"mn", $"mx", expr("INTERVAL 1 MINUTE"))).as("minute"))
    val w = Window.partitionBy($"event_type").orderBy($"minute")
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(perMin, Seq("event_type", "minute"), "left")
      .withColumn("observed", $"n".isNotNull)
      .withColumn("n_filled", last($"n", ignoreNulls = true).over(w))
      .select($"event_type", $"minute", $"n", $"n_filled", $"observed")
      .orderBy($"event_type", $"minute")
  }

  /** Retention cohorts: users grouped by their first-activity day,
    * counted on each subsequent active day offset. Activity collapses
    * to distinct (user, day) FIRST — one shuffle on user_id — so the
    * cohort join and final count run on ~users×days rows, not raw
    * events.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    // cohort day as a user-partitioned window min over the distinct
    // (user, day) frame — one scan, no cohort join (the round-7
    // groupBy+join form re-derived the distinct frame, and with it a
    // second full event scan, for the join's right side)
    val days = events
      .select($"user_id", date_trunc("day", $"ts").as("day"))
      .distinct()
    days
      .withColumn("cohort_day",
        min($"day").over(Window.partitionBy($"user_id")))
      .withColumn("offset_days", datediff($"day", $"cohort_day"))
      .groupBy($"cohort_day", $"offset_days")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_day", $"offset_days")
  }
}
