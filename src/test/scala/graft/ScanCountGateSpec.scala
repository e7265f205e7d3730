package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression gate over per-table scan counts in every declared
  * query's physical plan — the graduated successor of round 7's
  * TEMPORARY print-only probe, which flagged 26 multi-scan lineages.
  * Triage outcome (round 8): ten queries were restructured to a
  * single pass or a bounded checkpointed frame (q24 documents 4→1,
  * q25 2→1, q33 2→1, q58 events 4→1, q63 part 4→2, q71 events 3→1,
  * q72 2→1, q75 orders 7→1, q82 documents 3→1, q90 2→1, q94 2→1,
  * q96 2→1, q45 embeddings 4→2); the rest are inherent to the
  * operator's shape and carry an explicit allowance + reason below.
  *
  * Counting rule: FileScan lines whose path ends in the table's
  * parquet (a plain substring count also matches literals — q22
  * carries `lit("events.parquet")` as a provenance tag, the round-7
  * probe's one false positive). Queries using localCheckpoint run
  * their bounded build jobs at plan-construction time; the gate
  * counts the executed MERGE/query plan, and each checkpoint's own
  * build is a single additional pass documented at the operator.
  */
class ScanCountGateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"
  val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "events", "documents", "embeddings", "nation", "region")

  /** Triaged allowances above the default of 1, each with its
    * structural reason. Raising a number here requires the same
    * justification these entries carry.
    */
  val allow: Map[String, Map[String, Int]] = Map(
    // 1-row global max-ts stat (column-pruned, broadcast) + the
    // last-24h filtered pass
    "q15_freshness" -> Map("events" -> 2),
    // per-type stats aggregate (map-side combined, broadcast back) +
    // the scoring pass; two scans beat sorting the corpus through a
    // window at low type cardinality
    "q18_anomaly_zscore" -> Map("events" -> 2),
    // label-blocked self-join sides
    "q27_dedup_embedding" -> Map("embeddings" -> 2),
    // cell-blocked self-join sides; the 32-row centroid frame is
    // checkpointed (the q45 precedent), so each side plans one corpus
    // scan, not corpus + centroid-slice
    "q106_dedup_embedding_cells" -> Map("embeddings" -> 2),
    // q106's two self-join sides + the anti-join probe side (~300 B
    // rows: three scans beat materializing the corpus)
    "q107_semdedup_prune" -> Map("embeddings" -> 3),
    // corpus side + pushdown-pruned query slice (vec_id < nQueries)
    "q28_cosine_topk" -> Map("embeddings" -> 2),
    "q29_ann_lsh" -> Map("embeddings" -> 2),
    // assignment pass + pruned query slice; the 16-row centroid
    // frame is checkpointed (round 7 planned 4 scans)
    "q45_ann_ivf" -> Map("embeddings" -> 2),
    // bucket-blocked range self-join sides
    "q49_range_join" -> Map("events" -> 2),
    // row-expansion join sides a/b; the distinct-name dictionary is
    // checkpointed (round 7 planned 4 scans)
    "q63_fuzzy_join" -> Map("part" -> 2),
    // corpus + pushdown-pruned centroid slice (vec_id < k)
    "q73_kmeans_step" -> Map("embeddings" -> 2),
    // per-doc TF pass + 1-row corpus-stats pass
    "q74_bm25_rank" -> Map("documents" -> 2),
    // decorrelated min-per-group + winner join-back (TPC-H Q2 shape)
    "q76_min_cost_supplier" -> Map("lineitem" -> 2),
    // per-customer average joined back (TPC-H Q17 shape)
    "q80_above_customer_avg" -> Map("orders" -> 2),
    // two disjoint batch slices by construction — stands in for
    // incremental arrival files that are separate scans at scale
    "q87_incremental_rollup" -> Map("events" -> 2),
    // full train tokenize pass + column-pruned (doc_id, source)
    // count pass + ~1% eval-slice pass (see contaminationScreen
    // doc). The broadcast gate is plan-stats-only (round 11): no
    // eager job outside this plan.
    "q92_contamination" -> Map("documents" -> 3),
    // composed funnel: flags pass (quality + md5-window) + training
    // shingle pass + ~1% eval-slice pass (see curationManifest doc —
    // the fused alternative is a data-sized checkpoint). The
    // broadcast gate is plan-stats-only (round 11): no eager job
    // outside this plan, spec-pinned in ScaleTechniquesSpec.
    "q101_curation_e2e" -> Map("documents" -> 3),
    // encode vocab collapse + per-doc join-back (training's own scan
    // runs eagerly inside bpeTrain and is not part of this plan)
    "q102_bpe_encode" -> Map("documents" -> 2),
    // 1-row global dim-stats pass (column-pruned, broadcast) + the
    // key/bucket pass
    "q103_zorder_layout" -> Map("orders" -> 2),
    // bloom build pass + batch probe pass + exact-truth audit pass
    // (production drops the audit join; the m-sizing count is one
    // more eager 1-row pass outside this plan, documented at the
    // operator)
    "q105_bloom_screen" -> Map("documents" -> 3),
    // span-aggregate (first-occurrence) build + probe sides of the
    // keep-first self-join; the probe side carries every span marked
    // keep/drop so doc totals, survivor counts and the reconstruction
    // come from ONE per-doc aggregation — no third pass over text
    "q122_line_dedup" -> Map("documents" -> 2),
    // rolling-window first-occurrence aggregate + join probe side
    // (q122's two), plus the reconstruction join of the ONE-row-per-
    // doc covered-interval frame back to the token arrays — unlike
    // q122 the removal unit (rolling window) is not a tiling, so the
    // cleaned text cannot be reassembled from the window stream
    // itself; the third bounded pass beats materializing the corpus
    // (the q107 argument)
    "q124_exact_substring_removal" -> Map("documents" -> 3),
    // q124's 3-pass shape × two ORDERED batches, each pass over a
    // pushdown-pruned doc_id half (total bytes ≈ one-shot q124's);
    // batch 1's standing-firsts table is checkpointed out of batch
    // 2's plan, and the median-cut percentile is one eager stats job
    // at plan construction
    "q128_exact_substring_incremental" -> Map("documents" -> 6),
    // ADC shortlist code scan + exact re-rank vector fetch — the
    // two-stage PQ deployment by construction (at 100 TB the first
    // scan reads 4-byte codes, only the second touches vectors, for
    // nQueries × rerank ids). Codebook training runs eagerly at plan
    // construction (the bpeEncode precedent) and is not in this plan.
    "q111_pq_topk" -> Map("embeddings" -> 2),
    // q111's two-stage shape with the code scan cell-restricted:
    // encode+shortlist scan + exact re-rank vector fetch (coarse and
    // PQ training run eagerly at plan construction, as in q111)
    "q126_ivfpq_topk" -> Map("embeddings" -> 2),
    // q126's exact two-stage shape; only training changed (bounded
    // hash-gated sample, eager at plan construction like q126's)
    "q131_ivfpq_sampled" -> Map("embeddings" -> 2))

  test("every query's plan scans each table at most its allowed count") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = QueryClue(name)(fn(spark, dir).queryExecution.executedPlan.toString)
        val perQuery = allow.getOrElse(name, Map.empty)
        tables.flatMap { t =>
          val c = plan.linesIterator.count(l =>
            l.contains("FileScan") && l.contains(s"/$t.parquet"))
          val max = perQuery.getOrElse(t, 1)
          if (c > max) Some(s"$name: $t scanned x$c (allowed $max)")
          else None
        }
    }
    assert(violations.isEmpty,
      s"scan-count regressions:\n${violations.mkString("\n")}")
  }
}
