package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog physical-plan audit: the plan shapes that matter at
  * 100 TB, asserted for every declared query.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  // temp dirs cleaned by shutdown hook (the NewOpsSpec.mkTmp pattern;
  // deleteOnExit cannot remove non-empty directories)
  private def mkTmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(d))
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    d.toString
  }

  // q28/q29 intentionally broadcast a bounded query set against the
  // corpus with a non-equi condition (BroadcastNestedLoopJoin of a
  // 10-row side) — that's the designed brute-force baseline, not an
  // accidental cross join.
  // q73/q74 broadcast bounded single-digit-row sides (8 centroids / a
  // 1-row corpus-stats frame) — designed, like q28/q45. q15/q75
  // broadcast 1-row bounds/max-key frames. q94 crossJoins a broadcast
  // 1-row total-weight normalizer (same bounded shape as q74's
  // corpus-stats frame). q103 broadcasts a 1-row global min/max
  // dim-stats frame for z-value scaling. q106 broadcasts its 32-row
  // checkpointed centroid frame for cell assignment (the q73/q45
  // shape, once per self-join side). q107 reuses q106's assignment,
  // so the same 32-row broadcast appears on each of its three sides.
  // q116 crossJoins the broadcast nTypes-row type list with itself to
  // enumerate type PAIRS (a handful of rows) — the designed pairing
  // frame; everything corpus-sized stays on equi-join keys. q119
  // broadcasts its 32-row checkpointed centroid frame for argmin
  // assignment (the q73/q45/q106 shape). q113
  // crossJoins the broadcast 1-row token-total certificate into the
  // threshold filter, and q112 the broadcast 1-row vocabulary-size
  // frame into its probability projection (the q74/q94 corpus-stats
  // shape).
  private val allowedNestedLoop =
    Set("q15_freshness", "q28_cosine_topk", "q29_ann_lsh", "q45_ann_ivf",
      "q73_kmeans_step", "q74_bm25_rank", "q75_merge_upsert",
      "q94_source_mixture", "q103_zorder_layout",
      "q106_dedup_embedding_cells", "q107_semdedup_prune",
      "q112_lm_fluency", "q113_heavy_hitters", "q116_kmv_intersect",
      "q119_cell_manifest")

  /** Every query's plan, built ONCE and shared by all audit tests —
    * operators with eager construction steps (q66's propagation
    * rounds, q83's offset collect) would otherwise re-execute per
    * test. Value = (executed-plan string, # of logical Windows with an
    * EMPTY partitionSpec — the semantic definition of a global window,
    * immune to string-match false positives from unrelated
    * single-partition exchanges elsewhere in the plan).
    */
  private lazy val audited: Map[String, (String, Int)] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> QueryClue(name) {
        val qe = fn(spark, dir).queryExecution
        val globalWindows = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size
        (qe.executedPlan.toString, globalWindows)
      }
    }

  test("no query plans a CartesianProduct") {
    audited.foreach { case (name, (plan, _)) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
    }
  }

  test("nested-loop joins appear only where a broadcast baseline is intended") {
    audited.foreach { case (name, (plan, _)) =>
      if (plan.contains("BroadcastNestedLoopJoin")) {
        assert(allowedNestedLoop.contains(name),
          s"$name has an unexpected BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }

  // Global (unpartitioned) window functions funnel ALL rows through
  // one task — fatal at 100 TB unless the window input is provably
  // tiny. Every declared query that plans one must be on this list,
  // with the reason its input is bounded.
  private val allowedGlobalWindow = Set(
    "q60_moving_average",   // daily pre-aggregate: ~30 rows/month
    "q74_bm25_rank")        // window runs AFTER limit(20)
  test("no query plans a global window over unbounded input") {
    audited.foreach { case (name, (_, globalWindows)) =>
      if (globalWindows > 0) {
        assert(allowedGlobalWindow.contains(name),
          s"$name plans $globalWindows logical Window(s) with no partitionSpec")
      }
    }
  }

  test("narrow projections prune the parquet scan schema") {
    // q02 reads 4 of 11 lineitem columns; the scan must not read more
    val plan = SparkEntry.queries("q02_filter_pushdown")(spark, dir)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_discount")
      && !readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"scan schema not pruned: $readSchema")
  }

  test("dedup joins shuffle on block keys, not documents") {
    val plan = SparkEntry.queries("q24_dedup_ngram_jaccard")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"jaccard join not an equi-join:\n$plan")
  }

  test("every aggregate query keeps whole-stage codegen in the scan stage") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    df.collect()  // AQE finalizes the plan (and codegen wrapping) on execution
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the `*(stageId)` prefix in simpleString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
  }

  test("q98 explodes the corpus exactly once") {
    val df = SparkEntry.queries("q98_substring_dedup")(spark, dir)
    // the AdaptiveSparkPlan wrapper hides children from collect(), so
    // count Generate operators in the rendered plan instead
    val generates = "Generate explode".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(generates == 1,
      s"q98 plans $generates explodes of the window stream; the " +
        "single-lineage window formulation must scan the corpus once")
  }

  test("q99 caps its result with TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q99_dsir_importance")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"q99 top-k should not materialize a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q99 explodes the corpus exactly once") {
    val df = SparkEntry.queries("q99_dsir_importance")(spark, dir)
    val generates = "Generate explode".r
      .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(generates == 1,
      s"q99 plans $generates explodes of the bigram stream; the " +
        "single-lineage window formulation must scan the corpus once")
  }

  test("q20, q41 and q89 run their kernel in one Project above the event_id exchange, with no Generate") {
    // CollapseProject keeps an expensive expression that several output
    // columns read in its own Project, so the kernel runs once per row
    // without a generator barrier
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    Seq("q20_log_parse" -> "graft_regexp_groups(",
      "q41_pii_scrub" -> "graft_pii_scan(",
      "q89_bpeish_tokens" -> "'reach user'").foreach { case (q, kernel) =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      assert(!nodes(plan).exists(_.isInstanceOf[GenerateExec]), s"$q plans a Generate:\n$plan")
      val owners = nodes(plan).collect {
        case p: ProjectExec if p.projectList.exists(_.sql.contains(kernel)) => p
      }
      assert(owners.size == 1, s"$q: ${owners.size} Projects name $kernel:\n$plan")
      val uses = owners.head.projectList.map(e => e.sql.sliding(kernel.length).count(_ == kernel)).sum
      assert(uses == 1, s"$q: $kernel appears $uses times in its Project:\n$plan")
      assert(nodes(owners.head.child).exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"$q runs $kernel below the exchange:\n$plan")
    }
  }

  test("q130's stored code scan partition-prunes to EXACTLY the probed cells") {
    // The 100-TB claim behind IVFPQ ("cid is the partition key, so
    // probed cells are partition-pruned I/O", Similarity.ivfpqTopK
    // scaladoc) as a measured plan property: search a persisted
    // cid-partitioned index with a query batch whose probe set is a
    // strict subset of the cells, and assert the parquet scan's
    // PartitionFilters reduce the read to that set — partitions,
    // files, and bytes, from the scan's own metrics.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.sources.Tables
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val tmp = mkTmp("graft_ivfpq_audit")
    Similarity.ivfpqWriteIndex(emb, tmp)
    // 2 queries × 2 probes over 16 trained cells: the probe union is
    // structurally ≤ 4 cells — room for pruning to be visible
    val probed = Similarity.ivfpqProbedCells(emb, tmp, nProbe = 2,
      nQueries = 2)
    val cellsOnDisk = Option(new java.io.File(s"$tmp/codes").list())
      .getOrElse(Array.empty)
      .collect { case s if s.startsWith("cid=") =>
        s.stripPrefix("cid=").toLong }.toSet
    val expected = probed.toSet intersect cellsOnDisk
    assert(expected.nonEmpty && expected.size < cellsOnDisk.size,
      s"probe set $probed vs cells $cellsOnDisk leaves nothing to prune " +
        "— widen nCells or shrink the batch so the assertion has teeth")
    val df = Similarity.ivfpqStoredTopK(emb, tmp, nProbe = 2, nQueries = 2)
    val rows = df.collect()
    assert(rows.nonEmpty, "stored search returned nothing to audit")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val codeScans = scans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("graft_ivfpq_audit")))
      .filter(_.metadata.get("Location").exists(_.contains("codes")))
    assert(codeScans.size == 1,
      s"expected exactly one scan of the stored code table, " +
        s"found ${codeScans.size}")
    val scan = codeScans.head
    assert(scan.partitionFilters.nonEmpty,
      "the probed-cell restriction did not become a PartitionFilter — " +
        s"the scan reads the whole store:\n${scan.toString}")
    assert(scan.metrics("numPartitions").value == expected.size,
      s"scan read ${scan.metrics("numPartitions").value} partitions, " +
        s"expected exactly the ${expected.size} probed cells $expected")
    // the write discipline (repartition by cid before partitionBy)
    // keeps each cell one file, so files read == cells probed
    assert(scan.metrics("numFiles").value == expected.size,
      s"scan read ${scan.metrics("numFiles").value} files for " +
        s"${expected.size} probed single-file cells")
    // and the pruned result is still the right answer: identical to
    // the in-session path at the same parameters
    val inSession = Similarity.ivfpqTopK(emb, nProbe = 2, nQueries = 2)
      .collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq).toSeq == inSession,
      "partition-pruned stored search diverged from the in-session path")
  }

  test("q134's pruning survives appends: the accreted scan still reads only the probed cells") {
    // Appends add FILES under existing cid partitions; they must
    // never widen the partition set a search reads. Same audit as
    // q130's, against a store that took two appends — partitions
    // read stays == probed cells, while files read is allowed to
    // exceed it (one file per append per touched cell — the
    // compaction debt the scaladoc documents).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import graft.sources.Tables
    import graft.operators.Similarity
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val tmp = mkTmp("graft_ivfpq_apd")
    Similarity.ivfpqWriteIndex(emb.filter($"vec_id" % 3 =!= 2), tmp)
    Similarity.ivfpqAppendIndex(
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0), tmp)
    Similarity.ivfpqAppendIndex(
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 =!= 0), tmp)
    val probed = Similarity.ivfpqProbedCells(emb, tmp, nProbe = 2,
      nQueries = 2)
    val cellsOnDisk = Option(new java.io.File(s"$tmp/codes").list())
      .getOrElse(Array.empty)
      .collect { case s if s.startsWith("cid=") =>
        s.stripPrefix("cid=").toLong }.toSet
    val expected = probed.toSet intersect cellsOnDisk
    assert(expected.nonEmpty && expected.size < cellsOnDisk.size,
      s"probe set $probed vs cells $cellsOnDisk leaves nothing to prune")
    val df = Similarity.ivfpqStoredTopK(emb, tmp, nProbe = 2, nQueries = 2)
    assert(df.collect().nonEmpty, "accreted search returned nothing to audit")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("graft_ivfpq_apd")))
      .filter(_.metadata.get("Location").exists(_.contains("codes")))
      .head
    assert(scan.partitionFilters.nonEmpty,
      "append broke the PartitionFilter on the probed-cell restriction")
    assert(scan.metrics("numPartitions").value == expected.size,
      s"accreted scan read ${scan.metrics("numPartitions").value} " +
        s"partitions, expected the ${expected.size} probed cells $expected")
  }
}
