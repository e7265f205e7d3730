package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, spark_partition_id}

package object operators {
  /** `$"name"` Column shorthand without a SparkSession-bound
    * `spark.implicits._` import (operators are session-agnostic).
    */
  implicit class ColInterp(val sc: StringContext) extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}

package operators {
  /** Scale-adaptive partition counts for EXPLICIT repartitions, and
    * the distributed ordered-scan helpers built on them.
    *
    * Context: an explicit `repartitionByRange(n, k)` is the only way
    * to keep a CPU-dense post-exchange stage parallel — AQE's
    * coalescing reasons in BYTES, so a stage whose rows are cheap to
    * ship but expensive to compute (regex scans, tokenizers, shingle
    * kernels over a few MB of text) gets coalesced down to 1-2 tasks
    * and runs serially. But a CONSTANT n would be tuned to either the
    * local box or the cluster, never both, so the count is derived
    * from the session and the input: at least `defaultParallelism`
    * (use every core — the local lever), growing with the optimizer's
    * size estimate so partitions approach the advisory partition size
    * at scale (the cluster lever, same target AQE itself coalesces
    * toward).
    */
  object Par {
    val MaxParts = 1 << 18

    /** Conditional fan-out for a CPU-dense per-row stage right after a
      * scan (guide §2.5 "input skew: one huge unsplittable file …
      * repartition immediately after the read"): locally the
      * single-row-group test files produce ONE scan task, so every
      * tokenizer/regex/shingle kernel would run serially. This
      * hash-repartitions on the row key into
      * `min(defaultParallelism, bytes / FanGranularity)` partitions
      * (`bytes` is the optimizer's size estimate) — one task per
      * 64 KiB of compressed input, capped at the core count, not
      * "every core" regardless of size.
      *
      * It is the identity in two cases:
      *   - the input is at least `defaultParallelism ×
      *     filesMaxPartitionBytes`, so the scan already splits into at
      *     least one task per core (any at-scale corpus — no extra
      *     corpus shuffle is introduced at scale);
      *   - the input is under 2 × `FanGranularity` (128 KiB), where the
      *     width would be 1 and a shuffle buys nothing.
      */
    def fan(df: DataFrame, key: Column): DataFrame = {
      val spark = df.sparkSession
      val p = spark.sparkContext.defaultParallelism
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      // one fanned task per FanGranularity of (compressed) input, so
      // tasks stay big enough to amortize per-task fixed costs —
      // measured on the local corpus: 8-16 tasks beat both 1 (serial
      // kernel) and 32 (fixed costs dominate the sub-ms rows)
      val parts = (bytes / FanGranularity)
        .min(BigInt(p)).max(BigInt(1)).toInt
      if (bytes >= BigInt(maxPart) * p || parts <= 1) df
      else df.repartition(parts, key)
    }

    /** Compressed-input bytes per fanned task: ~0.5 MB of raw text,
      * assuming parquet compresses text about 8:1.
      */
    val FanGranularity: Long = 64L * 1024

    def parts(df: DataFrame): Int = {
      val spark = df.sparkSession
      val floor = spark.sparkContext.defaultParallelism
      val advisory = math.max(1L,
        spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byData =
        (bytes / advisory).min(BigInt(MaxParts)).max(BigInt(1)).toInt
      math.max(floor, byData)
    }

    /** `events` narrowed to the cheap `cols`, in global `event_id`
      * order (range partitioning into [[parts]] partitions plus an
      * in-partition sort), for a heavy per-row stage (regex, serde,
      * tokenizer) built on top. That stage then runs once per row,
      * after the exchange, on every core. A plain `orderBy` over the
      * stage's output does neither, for two reasons:
      *   - the range partitioner's sampling job re-runs everything
      *     below the exchange, so the kernel would run twice;
      *   - AQE sizes an exchange by bytes alone, so an exchange of a
      *     few cheap columns is coalesced to one or two tasks and the
      *     kernel runs serially. The fixed [[parts]] count keeps it
      *     parallel.
      */
    def orderedEvents(events: DataFrame, cols: Column*): DataFrame =
      events.select(cols: _*)
        .repartitionByRange(parts(events), col("event_id"))
        .sortWithinPartitions(col("event_id"))

    /** The two-phase distributed scan in `order`, without a global
      * single-partition window: range-partition `df` into `nParts`
      * partitions on the order key, total `measure` (an aggregate
      * column, e.g. `sum(n)` or `count(lit(1))`) per partition,
      * prefix-sum those `nParts` totals on the driver, and join them
      * back as a broadcast `offset` column: the measure of every
      * partition before the row's own. A per-partition window over
      * `pid` then finishes the scan. Every stage is partition-parallel;
      * the only collect is one row per partition. The checkpoint pins
      * the sampled range boundaries so the totals and the final pass
      * see the SAME partitioning.
      *
      * Returns the ranged frame with `pid` and `offset` columns, and
      * the grand total of `measure`.
      */
    def rangeOffsets(df: DataFrame, nParts: Int, order: Seq[Column],
                     measure: Column): (DataFrame, Long) = {
      val ranged = df.repartitionByRange(nParts, order: _*)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint(true)
      val perPart = ranged.groupBy(col("pid")).agg(measure)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val offsets = perPart.map(_._1)
        .zip(perPart.map(_._2).scanLeft(0L)(_ + _))
      val offDf = broadcast(df.sparkSession.createDataFrame(offsets.toSeq)
        .toDF("pid", "offset"))
      (ranged.join(offDf, Seq("pid")), perPart.map(_._2).sum)
    }
  }
}
