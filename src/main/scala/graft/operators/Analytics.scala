package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact.{davg, dec, dsum, dsumExpr}

/** Core relational/batch analytics — SURVEY.md §2 block A.
  *
  * Re-expresses the reference's Druid SQL dashboard queries
  * (README.md:172-193, GOES_PIPELINE_REPORT.md:275-314) and its Spark
  * batch job (app_airflow/app/dags/demoSpark.py:69-100) as declarative
  * DataFrame pipelines: Catalyst handles pushdown/pruning, partial
  * aggregation is map-side, dimension joins are broadcast.
  */
object Analytics {

  /** Multi-aggregate pricing summary (demoSpark.py:69 country_stats
    * pattern, TPC-H Q1 shape). Map-side partial agg on low-cardinality
    * keys — scales linearly with input, no skew risk.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    // (r20 measured-and-reverted: Par.fan before the aggregation —
    // shuffling all 7 used columns cost as much as the serial partial
    // agg saved; unlike q52's unpivot there is no per-row expansion
    // to amortize the exchange)
    lineitem
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumExpr(dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))).as("sum_disc_price"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  /** Selective filter + narrow projection + global agg (TPC-H Q6
    * shape). Filter and the 4-column projection must reach the parquet
    * scan (PushedFilters / ReadSchema) — at 100 TB this is the
    * difference between scanning 4 columns of a date range and the
    * whole table.
    */
  def revenueFilter(lineitem: DataFrame): DataFrame =
    lineitem
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
              $"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
      .agg(
        dsumExpr(dec($"l_extendedprice") * dec($"l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** Star join: orders ⋈ customer ⋈ nation ⋈ region → revenue per
    * nation. Dimension sides are broadcast (explicit hint for the tiny
    * dims; customer is small enough for AQE/auto-broadcast at any SF
    * where it fits, else it shuffles on the join key).
    */
  def revenueByNation(orders: DataFrame, customer: DataFrame,
                      nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(
        dsum($"o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"r_name", $"n_name")

  /** Top-N by aggregate (README.md:186-192 `ORDER BY market_cap DESC`
    * pattern). Aggregate first, then a global top-10 — Spark's
    * TakeOrderedAndProject keeps only N rows per partition, so no full
    * sort at scale.
    */
  def topCustomers(orders: DataFrame, customer: DataFrame, n: Int = 10): DataFrame =
    orders
      .groupBy($"o_custkey")
      .agg(dsum($"o_totalprice").as("total_spend"), count(lit(1)).as("n_orders"))
      .join(customer, $"o_custkey" === customer("c_custkey"))
      .select($"c_custkey", $"c_name", $"total_spend", $"n_orders")
      .orderBy($"total_spend".desc, $"c_custkey")
      .limit(n)

  /** Druid-approximate TopN (q132) — the last Druid query-family gap:
    * Druid's `topN` is per-segment approximate (each segment returns
    * its local top candidates — minimum pool 1000 — and the broker
    * merges the pools; a dimension value just under every local cut
    * is missed, the documented topN caveat). Re-expressed Spark-first
    * as CANDIDATES + exact recount (the two-pass q113 discipline):
    *
    *  - SEGMENT POOLS ([[localTopKeys]]): each input partition emits
    *    its exact local top-[[TopNCapacity]] keys by summed weight —
    *    Druid's segment-side pass, cut before any shuffle, ≤
    *    partitions × capacity candidate rows total;
    *  - GLOBAL GUARANTEE: a mergeable weighted Misra-Gries summary
    *    ([[graft.functions.WeightedMisraGries]], same capacity)
    *    retains every key with spend > W/(capacity+1) under ANY
    *    partitioning — the additive bound Druid's pools lack (a
    *    whale spread thin across segments can miss every local cut;
    *    the union closes exactly that hole);
    *  - EXACT RECOUNT: q04's aggregate restricted to the broadcast
    *    candidate union, then top-n — every REPORTED number is
    *    exact (Druid's own docs recommend this follow-up query),
    *    so the approximation lives only in candidate recall.
    *
    * Why not exact q04 at 100 TB: its aggregate shuffles the full
    * (key, spend) space — billions of keys at user grain — while
    * both candidate passes ship a capacity-bounded set per partition
    * and only candidate rows reach the recount shuffle.
    *
    * Spec contract: planted whale (> W/(cap+1)) survives adversarial
    * repartitionings and recounts exactly; lossless regime (distinct
    * keys ≤ capacity) equals exact q04 verbatim; the lossy regime's
    * head overlap is measured and pinned at sf0.1.
    */
  val TopNCapacity = 1000

  /** Per-PARTITION exact local top-`capacity` keys by summed weight —
    * Druid's segment-side topN pass, literally: each partition builds
    * its local (key, Σweight) hash aggregate and emits only its
    * top-`capacity` keys, so the cut happens BEFORE any data
    * movement (the thing no Catalyst operator expresses — a
    * groupBy(pid, key) + window ships the full per-segment key space
    * through a shuffle first; this is the documented (d)-clause
    * mapPartitions case). Output is ≤ partitions × capacity key
    * rows. Ties break (weight desc, key asc), deterministic GIVEN a
    * partitioning — like Druid's per-segment pools, the candidate
    * set is a property of the layout, which is why the consumer
    * recounts exactly and only the KEYS leave this pass.
    */
  private def localTopKeys(keyed: DataFrame, capacity: Int): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder}
    keyed.select($"k", $"w").as[(Long, Long)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        it.foreach { case (k, w) => m.update(k, m.getOrElse(k, 0L) + w) }
        m.toSeq.sortBy { case (k, w) => (-w, k) }.take(capacity)
          .map(_._1).iterator
      }
      .toDF("o_custkey")
  }

  def topCustomersApprox(orders: DataFrame, customer: DataFrame,
                         n: Int = 10,
                         capacity: Int = TopNCapacity): DataFrame = {
    import graft.functions.WeightedMisraGries
    val keyed = orders.select($"o_custkey".as("k"),
      round($"o_totalprice" * 100).cast("long").as("w"))
    // Druid segment pools: per-partition exact local top-capacity
    val segCands = localTopKeys(keyed, capacity)
    // global heavy-weight guarantee: any key with spend > W/(cap+1)
    // survives the mergeable weighted sketch under ANY partitioning
    val mgCands = keyed
      .agg(WeightedMisraGries.candidates($"k".cast("string"), $"w",
        capacity).as("cand"))
      .select(explode($"cand").as("ck"))
      .select($"ck".cast("long").as("o_custkey"))
    val cands = segCands.unionByName(mgCands).distinct()
      .localCheckpoint(true)
    orders
      .join(broadcast(cands), Seq("o_custkey"), "left_semi")
      .groupBy($"o_custkey")
      .agg(dsum($"o_totalprice").as("total_spend"), count(lit(1)).as("n_orders"))
      .join(customer, $"o_custkey" === customer("c_custkey"))
      .select($"c_custkey", $"c_name", $"total_spend", $"n_orders")
      .orderBy($"total_spend".desc, $"c_custkey")
      .limit(n)
  }

  /** Per-event-type stats (demoSpark.py:69-89 groupBy+count/avg/sum). */
  def groupStats(events: DataFrame): DataFrame =
    events
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        davg($"value").as("avg_value"),
        dsum($"value").as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .orderBy($"event_type")

  /** High-value filter + projection + ordered top rows
    * (demoSpark.py:92-94 `filter(col("revenue") > 100)`).
    */
  def highValue(events: DataFrame, threshold: Double = 400.0, n: Int = 100): DataFrame =
    events
      .filter($"value" > threshold)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .orderBy($"value".desc, $"event_id")
      .limit(n)

  /** Exact distinct cardinalities (README "data points" counts).
    * Exact distinct counts shuffle on the key; at 100 TB you reach for
    * approx_count_distinct (HLL, map-side mergeable) — covered by the
    * ScalaTest spec since approx values are engine-specific.
    *
    * One grouping set per counted column instead of two `countDistinct`s:
    * Spark rewrites several distinct aggregates into an Expand whose
    * column order follows the hash of their expression IDs, which are new
    * on every build, so each build generated one of two class layouts.
    * Here the order is fixed and a repeated build reuses its classes.
    */
  def distinctCounts(events: DataFrame): DataFrame =
    events
      .groupingSets(Seq(Seq($"user_id"), Seq($"event_type")), $"user_id", $"event_type")
      .agg(count(lit(1)).as("n"), grouping_id().as("g"))
      .agg(
        count(when($"g" === 1 && $"user_id".isNotNull, 1)).as("n_users"),
        count(when($"g" === 2 && $"event_type".isNotNull, 1)).as("n_event_types"),
        coalesce(sum(when($"g" === 1, $"n")), lit(0L)).as("n_events"))

  /** Superset-style pivot: day × event_type counts. Conditional
    * aggregation (one pass) rather than a pivot shuffle; missing cells
    * are 0 like Druid's rollup.
    */
  def dayTypePivot(events: DataFrame, types: Seq[String]): DataFrame = {
    val cells = types.map(t =>
      sum(when($"event_type" === t, 1L).otherwise(0L)).as(t))
    events
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(cells.head, cells.tail: _*)
      .orderBy($"day")
  }

  /** Rank-within-group, keep top-1: each customer's largest order.
    * Window partitioned by customer — parallel per key, no global sort.
    */
  def topOrderPerCustomer(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    orders
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey")
  }

  /** Data-quality report (README.md:224-228 "Data Quality Metrics":
    * record counts, error rates, null/NaN tracking) — one scan, one
    * row out.
    */
  def dataQuality(events: DataFrame): DataFrame =
    events.agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"user_id").as("n_users"),
      sum(when($"props".isNull, 1L).otherwise(0L)).as("n_null_props"),
      sum(when(isnan($"value"), 1L).otherwise(0L)).as("n_nan_values"),
      sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_errors"))
      .withColumn("error_rate", $"n_errors" * 1.0 / $"n_rows")

  /** Exact interpolated percentiles per group (the Superset/Druid
    * percentile-chart surface). Exact `percentile` shuffles values per
    * group; the 100 TB path swaps in `approx_percentile` (KLL-style
    * mergeable sketch) — spec-covered since approx values are
    * engine-specific.
    */
  def percentiles(events: DataFrame): DataFrame =
    events
      .groupBy($"event_type")
      .agg(
        percentile($"value", lit(0.25)).as("p25"),
        percentile($"value", lit(0.5)).as("p50"),
        percentile($"value", lit(0.75)).as("p75"),
        percentile($"value", lit(0.95)).as("p95"))
      .orderBy($"event_type")

  /** Approximate aggregates per group — the declared 100 TB form of
    * the exact twins [[distinctCounts]] (q07) and [[percentiles]]
    * (q39). `approx_count_distinct` (HLL++) and `approx_percentile`
    * (mergeable quantile sketch) build one partial sketch per
    * partition in constant memory and merge map-side, where the exact
    * forms ship full per-group value sets through the shuffle.
    * Rows-only correctness gate (sketch contents are engine-specific);
    * the ScalaTest spec bounds relative error against the exact twins.
    */
  def approxGroupStats(events: DataFrame): DataFrame =
    events
      .groupBy($"event_type")
      .agg(
        approx_count_distinct($"user_id").as("approx_users"),
        approx_percentile($"value", array(lit(0.5), lit(0.95)), lit(10000)).as("p"),
        count(lit(1)).as("n"))
      .select($"event_type", $"approx_users",
        $"p"(0).as("p50_approx"), $"p"(1).as("p95_approx"), $"n")
      .orderBy($"event_type")

  /** Shipping-priority top-N (TPC-H Q3 shape): segment-filtered
    * customer ⋈ orders ⋈ lineitem with date range predicates on both
    * fact sides, revenue per open order. The two fact tables shuffle
    * on the join key; the filtered customer side broadcasts.
    */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame): DataFrame = {
    import graft.functions.Exact.{dec, dsumExpr}
    val cutoff = lit("1998-01-01").cast("timestamp")
    customer.filter($"c_mktsegment" === "BUILDING")
      .join(orders, $"c_custkey" === $"o_custkey")
      .filter($"o_orderdate" < cutoff)
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > cutoff)
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsumExpr(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
        .as("revenue"))
      .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** Local-supplier volume (TPC-H Q5 shape): six-table join across
    * both fact tables and the full dimension chain, with the
    * customer-nation = supplier-nation colocation predicate. Catalyst
    * reorders the join tree; dims broadcast.
    */
  def localSupplierVolume(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame, supplier: DataFrame,
                          nation: DataFrame, region: DataFrame): DataFrame = {
    import graft.functions.Exact.{dec, dsumExpr}
    customer
      .join(orders, $"c_custkey" === $"o_custkey")
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .join(supplier, $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        dsumExpr(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"r_name", $"n_name")
  }

  /** 7-day trailing moving average over daily revenue — a RANGE-frame
    * window (time-based, not row-based: days can be missing). Daily
    * pre-aggregation keeps the window input small; exact cents keep
    * the running sums deterministic.
    */
  def movingAverage(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", $"o_orderdate").as("day"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(unix_micros($"day"))
      .rangeBetween(-6L * 86400L * 1000000L, 0L)
    daily
      .withColumn("ma7",
        (sum($"cents").over(w) / 100.0) / sum($"n_orders").over(w))
      .withColumn("revenue", $"cents" / 100.0)
      .select($"day", $"n_orders", $"revenue", $"ma7")
      .orderBy($"day")
  }

  /** ROLLUP hierarchy subtotals (region → nation → grand total) over
    * order revenue — the drill-down complement of [[cubeDayType]].
    */
  def revenueRollup(orders: DataFrame, customer: DataFrame,
                    nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .select($"gid", $"r_name", $"n_name", $"n_orders", $"revenue")
      .orderBy($"gid", $"r_name", $"n_name")

  /** Fuzzy-match join: near-identical part names within a brand block
    * (edit distance ≤ threshold), dictionary-factored.
    *
    * The row-level self-join form is O(n²/|brands|) edit-distance
    * kernels — quadratic within-block growth that turned a 10× data
    * increase into 100× the work (12.8 s at sf0.1, the round-1 perf
    * outlier). But names repeat heavily (a dictionary of distinct
    * strings ≪ rows — 64 distinct names over 20k parts here, and at
    * 100 TB a catalog's name vocabulary still grows far slower than
    * its row count). So:
    *
    *  1. dedup to the distinct-name dictionary;
    *  2. run the edit-distance kernel on dictionary pairs only —
    *     O(|dict|²) work, constant as rows grow, pre-pruned by the
    *     |len diff| ≤ d necessary condition and the thresholded
    *     (early-bail) `levenshtein`;
    *  3. expand back to row pairs with two hash equi-joins on
    *     (brand, name) — linear in input + output size, no kernel on
    *     the big side.
    *
    * The ordered dictionary-pair table (both directions + the
    * identical-name diagonal, dist 0) makes each row pair match
    * exactly one dictionary row under the `part_a < part_b` ordering.
    * If the dictionary ever outgrows broadcast range, step 2's
    * candidate generation swaps to a PassJoin-style segment equi-join
    * (partition names into d+1 segments; pigeonhole guarantees
    * recall) — the row-side expansion joins are unchanged.
    */
  /** The dictionary-pair stage of [[fuzzyPartNames]]: ordered distinct
    * name pairs within edit distance `maxDist` (both directions + the
    * identical-name diagonal at dist 0). Exposed so the scale spec can
    * assert the edit-distance candidate space grows with the
    * dictionary, not the row count.
    */
  def fuzzyNamePairs(part: DataFrame, maxDist: Int = 2): DataFrame = {
    // the distinct-name dictionary is derived ONCE (checkpoint) —
    // both length-bucket sides replicate from the materialized
    // vocabulary instead of re-scanning part per side
    val names = part.select($"p_name").distinct().localCheckpoint(true)
    // length-bucket equi-key (width d+1): |len diff| <= d confines a
    // true pair to the same or adjacent buckets, so replicating one
    // side to lb-1..lb+1 keeps an equi-join (no nested loop) with
    // guaranteed recall; each pair meets on exactly one bucket value
    val lb = floor(length($"p_name") / (maxDist + 1))
    val nx = names.withColumn("lb", lb)
    val ny = names.withColumn("lb",
      explode(array((-1 to 1).map(d => lb + d): _*)))
    nx.as("x").join(ny.as("y"),
        col("x.lb") === col("y.lb") &&
        // cheap necessary condition: |len(x)-len(y)| <= d for
        // edit distance <= d — prunes before the DP kernel
        abs(length(col("x.p_name")) - length(col("y.p_name"))) <= maxDist)
      // threshold form bails early with -1 past maxDist
      .withColumn("dist", levenshtein(col("x.p_name"), col("y.p_name"), maxDist))
      .filter($"dist" >= 0)
      .select(col("x.p_name").as("name_a"), col("y.p_name").as("name_b"), $"dist")
  }

  /** PassJoin-style dictionary-pair stage: the scale fallback for
    * [[fuzzyNamePairs]] when the distinct-name dictionary outgrows
    * broadcast/length-bucket range. Pigeonhole: with ≤ d edits and a
    * name partitioned into d+1 even segments, at least one segment is
    * untouched and therefore occurs VERBATIM in the other name,
    * shifted by at most d positions. Candidate generation is then an
    * EQUI-join — (segment index, claimed length, substring text) —
    * between each name's segments and each name's position-bounded
    * substrings, never an all-pairs kernel; per name the generated
    * substring set is a small constant ((d+1) segments × (2d+1)
    * lengths × (2d+1) positions). Candidates are verified with the
    * same thresholded levenshtein.
    *
    * The pigeonhole argument needs every segment nonempty, i.e.
    * names of length ≥ d+1 on the segment side; pairs whose longer
    * member is shorter than that (both names ≤ 2d chars) go through
    * the length-bucket path restricted to that tiny subset. Output
    * contract matches [[fuzzyNamePairs]] exactly: ordered pairs, both
    * directions, identical-name diagonal at dist 0.
    */
  def fuzzyNamePairsPassJoin(part: DataFrame, maxDist: Int = 2): DataFrame = {
    val k = maxDist + 1
    // dictionary derived once, shared by segment/substring/short sides
    val names = part.select($"p_name").distinct().localCheckpoint(true)

    // segment side: names long enough that all k segments are nonempty
    val ys = names
      .withColumn("ly", length($"p_name"))
      .filter($"ly" >= k)
      .withColumn("i", explode(sequence(lit(0), lit(maxDist))))
      .withColumn("seg_len",
        when($"i" < $"ly" % k, expr(s"ly div $k") + 1)
          .otherwise(expr(s"ly div $k")))
      .withColumn("seg_start",
        $"i" * expr(s"ly div $k") + least($"i", $"ly" % k) + 1)
      .select($"p_name".as("name_b"), $"ly", $"i",
        $"p_name".substr($"seg_start", $"seg_len").as("seg"), $"seg_start")

    // substring side: for each name, every substring that could equal
    // segment i of a partner of claimed length L (L within ±d, start
    // within ±d of the segment's home position)
    val xs = names
      .withColumn("lx", length($"p_name"))
      .withColumn("i", explode(sequence(lit(0), lit(maxDist))))
      .withColumn("L",
        explode(sequence(greatest($"lx" - maxDist, lit(k)), $"lx" + maxDist)))
      .withColumn("seg_len",
        when($"i" < $"L" % k, expr(s"L div $k") + 1)
          .otherwise(expr(s"L div $k")))
      .withColumn("home",
        $"i" * expr(s"L div $k") + least($"i", $"L" % k) + 1)
      .withColumn("p_lo", greatest($"home" - maxDist, lit(1)))
      .withColumn("p_hi", least($"home" + maxDist, $"lx" - $"seg_len" + 1))
      // explode(NULL) emits no rows — the empty-window guard
      .withColumn("p",
        explode(when($"p_lo" <= $"p_hi", sequence($"p_lo", $"p_hi"))))
      .select($"p_name".as("name_a"), $"i", $"L",
        $"p_name".substr($"p", $"seg_len").as("sub"))

    val longCands = xs.join(ys,
        xs("i") === ys("i") && xs("L") === ys("ly") && xs("sub") === ys("seg"))
      .select($"name_a", $"name_b")

    // both-short pairs (longer member ≤ 2d chars): the pigeonhole can
    // land on an empty segment there, so run the tiny subset through
    // the length-bucket equi-join instead
    val shorts = names.filter(length($"p_name") <= 2 * maxDist)
    val lbShort = floor(length($"p_name") / k)
    val sx = shorts.withColumn("lb", lbShort)
    val sy = shorts.withColumn("lb",
      explode(array((-1 to 1).map(d => lbShort + d): _*)))
    val shortCands = sx.as("x").join(sy.as("y"), col("x.lb") === col("y.lb"))
      .select(col("x.p_name").as("name_a"), col("y.p_name").as("name_b"))

    longCands.union(shortCands)
      .dropDuplicates("name_a", "name_b")
      .filter(abs(length($"name_a") - length($"name_b")) <= maxDist)
      .withColumn("dist", levenshtein($"name_a", $"name_b", maxDist))
      .filter($"dist" >= 0)
      .select($"name_a", $"name_b", $"dist")
  }

  /** Stats-driven dictionary-path pick for [[fuzzyPartNames]]: true →
    * the PassJoin segment equi-join, false → the broadcast
    * length-bucket kernel. Decided from Catalyst's size estimate of
    * the pruned name projection (driver-side plan stats — no job),
    * against the session's own broadcast budget
    * (`spark.sql.autoBroadcastJoinThreshold`): the broadcast path
    * ships the ordered name-PAIR table, whose bytes are bounded by a
    * small multiple of the dictionary bytes (both directions + the
    * dist-0 diagonal + per-name near-match multiplicity — ≤8× on any
    * dictionary where fuzzy matching is meaningful), so the flip
    * fires when 8× the estimated name bytes exceeds the threshold,
    * or when auto-broadcast is disabled outright (threshold < 0).
    * The estimate errs large (plan stats assume no compression),
    * which errs toward the shuffle path — the safe direction at
    * scale. Cost envelope where broadcast is ALSO available: ≤1.8×
    * of broadcast on the frozen 64-name dictionary the pre-r13 scale
    * corpora carried (1.42×/1.73×/1.66× at 1×/10×/30×, SURVEY §7f),
    * widening to 2.66× at the r13 natural-axis 10× point (640
    * distinct names — the segment equi-join's work grows with the
    * dictionary, which is the regime it exists for). The pick only
    * takes PassJoin when the pair table would blow the broadcast
    * budget, where the broadcast alternative is an executor OOM, not
    * a 2.7×-faster plan.
    */
  def fuzzyDictLarge(part: DataFrame): Boolean = {
    val threshold =
      part.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold < 0) true
    else {
      val nameBytes = part.select($"p_name")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      nameBytes * 8 > threshold
    }
  }

  /** `largeDict = Some(true)` swaps the dictionary-pair stage to the
    * PassJoin segment equi-join and drops the broadcast hint on the
    * pair table (AQE picks the join strategy from the measured size) —
    * the plan for a vocabulary that outgrows the driver.
    * `Some(false)` forces the broadcast length-bucket kernel. The
    * default `None` picks via [[fuzzyDictLarge]]'s plan-stats
    * heuristic, so a growing dictionary flips the plan without a
    * caller-side flag. Row-side expansion joins are identical either
    * way, as is the output (pair-set-equality spec).
    */
  def fuzzyPartNames(part: DataFrame, maxDist: Int = 2,
                     largeDict: Option[Boolean] = None): DataFrame = {
    val p = part.select($"p_partkey", $"p_brand", $"p_name")
    val big = largeDict.getOrElse(fuzzyDictLarge(part))
    val namePairs0 =
      if (big) fuzzyNamePairsPassJoin(p, maxDist)
      else fuzzyNamePairs(p, maxDist)
    val namePairs = if (big) namePairs0 else broadcast(namePairs0)
    p.as("a")
      .join(namePairs, col("a.p_name") === $"name_a")
      .join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") &&
        $"name_b" === col("b.p_name") &&
        col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("part_a"), col("b.p_partkey").as("part_b"),
        col("a.p_brand").as("p_brand"), $"dist")
      .orderBy($"part_a", $"part_b")
  }

  /** Histogram binning via width_bucket (Superset distribution
    * charts): fixed-width value bins with counts — one scan, one
    * low-cardinality aggregation.
    */
  def valueHistogram(events: DataFrame, bins: Int = 20): DataFrame =
    events
      .groupBy(width_bucket($"value", lit(0.0), lit(500.0), lit(bins)).as("bin"))
      .agg(count(lit(1)).as("n"),
        min($"value").as("bin_min"), max($"value").as("bin_max"))
      .orderBy($"bin")

  /** Semi join (EXISTS): orders having at least one returned line.
    * left_semi keeps the probe side only — no payload duplication, no
    * row multiplication, one shuffle (or broadcast of the filter set).
    */
  def ordersWithReturns(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter($"l_returnflag" === "R").select($"l_orderkey"),
        $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")

  /** Anti join (NOT EXISTS): customers with no orders at all. */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")

  /** Set operations: users who clicked AND purchased (INTERSECT), and
    * users who clicked but never purchased (EXCEPT), unioned with a
    * tag. Spark plans INTERSECT/EXCEPT as semi/anti joins over
    * distinct sets.
    */
  def clickPurchaseSets(events: DataFrame): DataFrame = {
    // ONE event scan feeds all four set-op operands: the distinct
    // (user, type) frame is bounded (≤ users × 2 rows) and
    // checkpointed, so INTERSECT and EXCEPT each read the
    // materialized frame — the naive form planned four full
    // event scans, one per operand lineage
    val typed = events.filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_type").distinct()
      .localCheckpoint(true)
    val clickers = typed.filter($"event_type" === "click").select($"user_id")
    val purchasers = typed.filter($"event_type" === "purchase").select($"user_id")
    clickers.intersect(purchasers).withColumn("cohort", lit("click_and_purchase"))
      .unionByName(
        clickers.except(purchasers).withColumn("cohort", lit("click_no_purchase")))
      .select($"cohort", $"user_id")
      .orderBy($"cohort", $"user_id")
  }

  /** CUBE aggregation over (day, event_type) with subtotals and a
    * grand total (the Superset pivot-with-totals surface; GROUPING
    * SETS are one shuffle with grouping-id expansion, not one scan
    * per set).
    */
  def cubeDayType(events: DataFrame): DataFrame =
    events
      .withColumn("day", date_trunc("day", $"ts"))
      .cube($"day", $"event_type")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"gid", $"day", $"event_type", $"n", $"sum_value")
      .orderBy($"gid", $"day", $"event_type")

  /** Unpivot (melt) wide measures to long form + per-measure totals —
    * the schema-normalization step for heterogeneous metric tables.
    */
  def measureTotals(lineitem: DataFrame): DataFrame =
    // fan before the 3× unpivot expansion + decimal sums (see q01)
    Par.fan(lineitem, $"l_orderkey")
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array($"l_quantity", $"l_extendedprice", $"l_discount"),
        "measure", "val")
      .groupBy($"measure")
      .agg(count(lit(1)).as("n"), dsum($"val").as("total"))
      .orderBy($"measure")

  /** Custom-Aggregator weighted mean per event type (value weighted by
    * user_id+1) — exercises the typed Aggregator/udaf API with an
    * exact integer buffer.
    */
  def weightedMeanByType(events: DataFrame): DataFrame =
    events
      .groupBy($"event_type")
      .agg(graft.functions.WeightedMean($"value", $"user_id" + 1).as("wmean"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")

  /** GROUPING SETS with an explicit set list — the general form of
    * which CUBE (q51) and ROLLUP (q62) are special cases: per-source,
    * per-lang, and per-(source, lang) document stats in ONE pass
    * (Catalyst expands the sets into a single Expand + aggregate, so
    * the input is scanned once, not once per set). gid disambiguates
    * the all-null stratum rows.
    */
  def docGroupingSets(documents: DataFrame): DataFrame =
    documents
      .groupingSets(
        Seq(Seq($"source"), Seq($"lang"), Seq($"source", $"lang")),
        $"source", $"lang")
      // grouping_id is only resolvable INSIDE the grouping-sets
      // aggregate (it reads the Expand's spark_grouping_id), not as a
      // downstream projection
      .agg(grouping_id($"source", $"lang").as("gid"),
        count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .select($"gid", $"source", $"lang", $"n_docs", $"total_chars")
      .orderBy($"gid", $"source".asc_nulls_first, $"lang".asc_nulls_first)

  /** Customer spend deciles: exact integer-cents totals, then exact
    * ntile(10) + percent_rank derived from a DISTRIBUTED total-order
    * rank — no global single-partition window. Customer count grows
    * with the data, so `Window.orderBy(cents)` would funnel every
    * customer through one task at scale; instead the rank is computed
    * with the two-phase scan [[Par.rangeOffsets]] (shared with
    * [[Sampling.prefixShards]]): range-partition on the sort key,
    * per-partition row_number, and a bounded one-row-per-partition
    * count gather whose running sum becomes each partition's rank
    * offset. ntile's bucket function of (rank, n) is then pure
    * per-row arithmetic — SQL ntile fills the
    * first (n mod 10) buckets with ceil(n/10) rows and the rest with
    * floor(n/10) — and percent_rank is (rank-1)/(n-1) exactly because
    * the sort key (cents desc, custkey) is unique (no peer groups).
    * Every stage is partition-parallel; the plan survives a 100×
    * customer scale-up by raising `parts`.
    */
  def spendDeciles(orders: DataFrame, parts: Int = 32): DataFrame = {
    val spend = orders.groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"),
        count(lit(1)).as("n_orders"))
    val (ranged, n) = Par.rangeOffsets(spend, parts,
      Seq($"cents".desc, $"o_custkey"), count(lit(1)))
    val wLocal = Window.partitionBy($"pid")
      .orderBy($"cents".desc, $"o_custkey")
    // ntile(10) closed form at rank r (1-based): q = n div 10 rows in
    // the tail buckets, the first rmd = n mod 10 buckets take q+1
    val q = n / 10L
    val rmd = n % 10L
    val headRows = (q + 1L) * rmd
    // bucket arithmetic stays in LONG space end to end (`div`, never
    // Column `/` which is IEEE double division): exact at any n, not
    // just below double's 2^53 integer range
    val decile =
      when(lit(q) === 0L, $"rank") // n < 10: one row per bucket
        .when($"rank" <= headRows, expr(s"(rank - 1) div ${q + 1L} + 1"))
        .otherwise(expr(s"$rmd + (rank - 1 - $headRows) div $q + 1"))
    val pctRank =
      if (n <= 1L) lit(0.0)
      else ($"rank" - 1L).cast("double") / lit((n - 1L).toDouble)
    ranged
      .withColumn("rank", $"offset" + row_number().over(wLocal))
      .select($"o_custkey", ($"cents" / 100.0).as("total_spend"),
        $"n_orders", decile.cast("int").as("decile"),
        pctRank.as("pct_rank"))
      .orderBy($"o_custkey")
  }

  /** Min-per-group with the winning row joined back (TPC-H Q2's
    * correlated-min shape, over lineitem offers since the schema has
    * no partsupp): cheapest offer per part, supplier resolved by an
    * equi-join on (part, min price) with a min-suppkey tie-break.
    * Two aggregates + two equi-joins — the decorrelated plan a
    * correlated subquery should (and here provably does) become;
    * never a per-row subquery execution.
    */
  def minCostSupplier(part: DataFrame, supplier: DataFrame,
                      lineitem: DataFrame): DataFrame = {
    val minPrice = lineitem.groupBy($"l_partkey".as("mp_partkey"))
      .agg(min($"l_extendedprice").as("min_price"))
    // equality on an UNMODIFIED stored double is exact — min() picks
    // an existing value, no arithmetic happens before the compare
    val winner = lineitem
      .join(minPrice,
        $"l_partkey" === $"mp_partkey" && $"l_extendedprice" === $"min_price")
      .groupBy($"l_partkey", $"min_price")
      .agg(min($"l_suppkey").as("s_suppkey"))
    winner
      .join(part, $"l_partkey" === $"p_partkey")
      .join(broadcast(supplier), Seq("s_suppkey"))
      .select($"p_partkey", $"p_name", $"min_price", $"s_suppkey", $"s_name")
      .orderBy($"p_partkey")
  }

  /** Per-user behavioral profile as an order-stable array aggregate:
    * sorted distinct event types (exposed as CSV so the value is
    * engine-portable), distinct count, total events. collect_set +
    * sort_array — never bare collect_list, whose order depends on
    * partitioning and would break run-to-run determinism.
    */
  def eventTypeProfile(events: DataFrame): DataFrame =
    events.groupBy($"user_id")
      .agg(
        concat_ws(",", sort_array(collect_set($"event_type"))).as("types_csv"),
        countDistinct($"event_type").as("n_types"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")

  /** Orders above their customer's average order value — the scalar
    * correlated subquery shape, decorrelated into one aggregate + one
    * equi-join. The above-average predicate compares integer cents
    * cross-multiplied (cents·n > sum_cents), so the filter is exact —
    * a double `price > avg` would wobble on the last ulp for orders
    * AT the average.
    */
  def aboveCustomerAvg(orders: DataFrame): DataFrame = {
    val cents = round($"o_totalprice" * 100).cast("long")
    val per = orders.groupBy($"o_custkey".as("ck"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("sum_cents"),
        count(lit(1)).as("n_orders"))
    orders.join(per, $"o_custkey" === $"ck")
      .filter(cents * $"n_orders" > $"sum_cents")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        ($"sum_cents" / 100.0 / $"n_orders").as("cust_avg"))
      .orderBy($"o_orderkey")
  }

  /** Slowly-changing-dimension type 2: each customer's order-priority
    * history as versioned rows with [valid_from, valid_to) intervals
    * (valid_to = next version's start, NULL while current). One lead()
    * window per customer — the standard warehouse versioning build.
    */
  def scd2Priority(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"valid_from_us", $"o_orderkey")
    orders
      // o_orderdate scans as TIMESTAMP_NTZ; the session runs UTC, so
      // the cast is a no-op reinterpretation matching DuckDB epoch_us
      .select($"o_custkey", $"o_orderkey", $"o_orderpriority",
        unix_micros($"o_orderdate".cast("timestamp")).as("valid_from_us"))
      .withColumn("valid_to_us", lead($"valid_from_us", 1).over(w))
      .withColumn("is_current", $"valid_to_us".isNull)
      .orderBy($"o_custkey", $"valid_from_us", $"o_orderkey")
  }

  /** Merge per-batch partial aggregates into the combined rollup —
    * the algebraic-aggregate property (count/sum merge by addition)
    * that incremental materialized views and streaming state stores
    * run on. Each partial is (key, n, cents); the merge is one
    * groupBy-sum over the concatenated partials, and because the
    * partials are exact integers the merged result is bit-identical
    * to a single-pass aggregation — asserted by the q87 oracle, which
    * IS the single-pass form.
    */
  def mergePartialRollups(partials: Seq[DataFrame]): DataFrame =
    partials.reduce(_ unionByName _)
      .groupBy($"event_type")
      .agg(sum($"n").as("n"), sum($"cents").as("cents"))
      .withColumn("sum_value", $"cents" / 100.0)
      .select($"event_type", $"n", $"sum_value")
      .orderBy($"event_type")

  /** Declared incremental-rollup query (q87): the stream split into
    * two arrival batches, each partially aggregated, then merged.
    * Equals the direct single-pass rollup exactly.
    */
  def incrementalRollup(events: DataFrame): DataFrame = {
    def partial(batch: DataFrame): DataFrame =
      batch.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("cents"))
    mergePartialRollups(Seq(
      partial(events.filter($"event_id" % 2 === 0)),
      partial(events.filter($"event_id" % 2 === 1))))
  }

  /** Latest record per key (Druid LATEST rollup / upsert compaction).
    * This is the canonical "dedup to newest" pattern for CDC streams.
    */
  def latestPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id", $"ts", $"event_type", $"value")
      .orderBy($"user_id")
  }
}
