package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable weighted Misra-Gries frequent-items summary (Misra &
  * Gries 1982; weighted form per Berinde et al. 2010, "Space-optimal
  * heavy hitters with strong error bounds"; mergeability per Agarwal
  * et al. 2013, "Mergeable summaries"). Counters accumulate a positive
  * weight per arrival: order spend for the Druid-style TopN candidates
  * (q132, `Analytics.topCustomersApprox`), 1 per token for the corpus
  * heavy hitters (q113, `TextAnalysis.heavyHitters`).
  *
  * Stream update inserts the arriving key (or adds its weight), and
  * when the buffer would exceed its headroom subtracts a batched
  * decrement δ (the purgeK-th-smallest counter, see [[purgeK]]) from
  * all and drops non-positives. Every subtraction event removes its δ
  * from ≥ capacity+1 counters at once, so the total mass any key can
  * lose is ≤ W/(capacity+1) (W = total weight seen):
  *
  *   true_weight - W / (capacity + 1)  <=  estimate  <=  true_weight
  *
  * Merge sums the maps and then applies the SAME batched purge,
  * looped until the buffer is back within capacity+purgeK (the
  * mergeability argument is weight-agnostic and each loop iteration
  * removes its full δ from ≥ capacity+1 counters), so partial
  * aggregation in any tree shape preserves both the additive bound
  * and the buffer-size invariant, and every key with true weight >
  * W/(capacity+1) survives to the candidate list no matter how Spark
  * partitions the data. The retained COUNTER VALUES depend on merge
  * order, so only the KEYS are exposed and the consumer recounts them
  * exactly: the two-pass discipline (sketch for candidates, exact
  * recount of just those) makes the final output independent of
  * partitioning and therefore oracle-equal.
  *
  * The working buffer is a `mutable.HashMap` mutated in place. The
  * declared buffer type stays the read-only `collection.Map` so the
  * encoder boundary (Spark serializes the buffer only at shuffle
  * edges) accepts whichever concrete map the deserializer hands back;
  * `asMutable` upgrades it on first touch.
  */
class WeightedMisraGries(capacity: Int)
    extends Aggregator[(String, Long), collection.Map[String, Long], Seq[String]]
    with Serializable {

  /** Purge batch size, the amortization lever. The textbook
    * subtract-the-min purge fires on ~every arrival once the buffer
    * is full and scans all `capacity` counters each time: O(capacity)
    * PER ROW, which measured 39.6 s of q132's 40.5 s at 10×
    * (1.5M orders × 3 × 1000-counter scans). Instead the buffer gets
    * `purgeK` slots of headroom and a purge subtracts the
    * purgeK-th-SMALLEST counter value δ from all — evicting ≥ purgeK
    * entries at once, so a scan can fire at most once per purgeK
    * inserts: amortized O(B/purgeK) ≈ O(5) per arrival. The error
    * bound is UNCHANGED: at trigger the buffer holds
    * B = capacity + purgeK + 1 counters, at most purgeK of them
    * < δ, so ≥ capacity + 1 counters lose the full δ — every purge
    * destroys ≥ (capacity+1)·δ of true mass, hence
    * Σδ ≤ W/(capacity+1), the same additive guarantee the min-purge
    * gives (the min-purge IS the purgeK = 1 case, which small
    * capacities degenerate to). The candidate list can now carry up
    * to capacity + purgeK keys — a slightly WIDER pool, which only
    * helps a recount consumer (Druid's pools are also wider than n).
    */
  private val purgeK = math.max(1, capacity / 4)

  private def asMutable(
      b: collection.Map[String, Long]): mutable.HashMap[String, Long] =
    b match {
      case m: mutable.HashMap[String, Long] => m
      case other => mutable.HashMap.from(other)
    }

  /** Subtract the purgeK-th smallest value from every counter and
    * drop non-positives — the batched decrement event.
    */
  private def purge(m: mutable.HashMap[String, Long]): Unit = {
    val vals = m.valuesIterator.toArray
    java.util.Arrays.sort(vals)
    val d = vals(purgeK - 1)
    m.mapValuesInPlace((_, c) => c - d)
    m.filterInPlace((_, c) => c > 0)
  }

  override def zero: collection.Map[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def reduce(b: collection.Map[String, Long],
                      in: (String, Long)): collection.Map[String, Long] = {
    val (k, w) = in
    if (w <= 0L) return b // zero/negative weights carry no vote
    val m = asMutable(b)
    m.update(k, m.getOrElse(k, 0L) + w)
    if (m.size > capacity + purgeK) purge(m)
    m
  }

  override def merge(a: collection.Map[String, Long],
                     b: collection.Map[String, Long]): collection.Map[String, Long] = {
    val (into, from) = if (a.size >= b.size) (a, b) else (b, a)
    val m = asMutable(into)
    from.foreach { case (k, c) =>
      m.update(k, m.getOrElse(k, 0L) + c)
    }
    // LOOP the purge: a merge of two at-capacity
    // buffers can exceed the bound by ~capacity, and one purge only
    // guarantees evicting >= purgeK entries — a single shot would let
    // the buffer grow ~capacity per merge-tree level, unbounding the
    // candidate list. Each iteration still subtracts its full delta
    // from >= capacity+1 counters, so Sigma-delta <= W/(capacity+1)
    // and the additive guarantee is unchanged; the loop restores the
    // documented <= capacity+purgeK buffer invariant on every path.
    while (m.size > capacity + purgeK) purge(m)
    m
  }

  override def finish(b: collection.Map[String, Long]): Seq[String] =
    b.keys.toSeq.sorted

  override def bufferEncoder: Encoder[collection.Map[String, Long]] =
    ExpressionEncoder[collection.Map[String, Long]]()
  override def outputEncoder: Encoder[Seq[String]] =
    ExpressionEncoder[Seq[String]]()
}

object WeightedMisraGries {
  /** Column form: the retained candidate keys (sorted array<string>)
    * of a weighted capacity-`capacity` summary over (key, weight).
    */
  def candidates(key: Column, weight: Column, capacity: Int): Column =
    udaf(new WeightedMisraGries(capacity),
      ExpressionEncoder[(String, Long)]()).apply(key, weight)
}
