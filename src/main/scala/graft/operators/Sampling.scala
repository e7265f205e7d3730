package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data curation.
  *
  * All sampling here is *content-hash gated*, never RNG-gated: a row's
  * membership is a pure function of its key, so the same sample comes
  * out on every run, every cluster size, and after any retry — the same
  * property the q50 hash splitter relies on. (A `rand()`-based sample
  * changes under task retry and partitioning, which silently breaks
  * train/eval hygiene — the SPARK-23207 class of bug.)
  */
object Sampling {

  /** Per-stratum deterministic sample: keep a row iff the first 4 hex
    * chars of md5(salt ‖ key) fall below the stratum's threshold
    * (threshold = fraction × 0x10000, as a zero-padded hex string, so
    * the gate is a plain string compare that any engine reproduces).
    *
    * Scale: the gate is a narrow per-row filter fused into the scan —
    * no shuffle, no per-stratum pass; thresholds ride in a broadcast
    * map join. Down-weighting over-represented strata (e.g. capping
    * English web text) is exactly this operator with per-language
    * fractions.
    */
  /** The per-stratum hex gate as a broadcastable (lang, threshold)
    * lookup — shared by [[stratifiedSample]] and [[trainingMix]].
    */
  private def thresholdLookup(documents: DataFrame,
                              fractions: Map[String, Double]): DataFrame = {
    val thresholds = fractions.toSeq.sortBy(_._1)
      .map { case (lang, f) =>
        require(f >= 0.0 && f <= 1.0, s"fraction out of range for $lang: $f")
        // "g" sorts above every hex digit, so f=1.0 keeps all rows (a
        // 5-char "10000" would lexicographically EXCLUDE everything)
        val t = math.round(f * 0x10000)
        (lang, if (t >= 0x10000) "g" else f"$t%04x")
      }
    broadcast(
      documents.sparkSession.createDataFrame(thresholds)
        .toDF("lang", "threshold"))
  }

  /** The deterministic gate key: first 4 hex chars of md5(salt ‖ id). */
  private def sampleKey(salt: String) =
    substring(md5(concat(lit(salt), $"doc_id".cast("string"))), 1, 4)

  def stratifiedSample(documents: DataFrame,
                       fractions: Map[String, Double],
                       salt: String = "smpl"): DataFrame =
    documents
      .withColumn("sample_key", sampleKey(salt))
      .join(thresholdLookup(documents, fractions), Seq("lang"))
      .filter($"sample_key" < $"threshold")
      .select($"doc_id", $"lang", $"sample_key")
      .orderBy($"doc_id")

  /** End-to-end training-mix selection — the composition the whole
    * curation block exists for, in ONE declarative plan: keep a doc iff
    * it (a) is its exact-dup group's keeper, (b) clears the quality
    * floor, (c) is in a target language, and (d) passes its stratum's
    * hash gate. Every stage is an operator already proven on its own
    * (q23/q31/q67); Catalyst fuses the scalar gates into the scan and
    * the only shuffles are the digest groupBy and the doc_id join.
    */
  def trainingMix(documents: DataFrame,
                  fractions: Map[String, Double],
                  minQuality: Double = 0.3,
                  dropLangs: Set[String] = Set("zh"),
                  salt: String = "smpl"): DataFrame = {
    // ONE pass over the text computes BOTH per-doc signals (quality
    // components and the md5 dedup digest): deriving them in separate
    // lineages plans three full corpus scans. The exact-dup keeper is
    // a window min over the digest (one exchange on the digest key, no
    // join back); thresholds ride a broadcast literal.
    val base = TextAnalysis.withQuality(documents)
      .select($"doc_id", $"lang", md5($"text").as("h"), $"quality")
    base
      .withColumn("keeper", min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .filter($"doc_id" === $"keeper")
      .filter(!$"lang".isInCollection(dropLangs))
      .filter($"quality" >= minQuality)
      .withColumn("sample_key", sampleKey(salt))
      .join(thresholdLookup(documents, fractions), Seq("lang"))
      .filter($"sample_key" < $"threshold")
      .select($"doc_id", $"lang", $"quality")
      .orderBy($"doc_id")
  }

  /** Token-budget shard assignment via a DISTRIBUTED prefix sum — the
    * packing step that splits a corpus into ≈budget-token training
    * shards in doc_id order. A naive global running-sum window would
    * funnel the whole corpus through ONE partition; the two-phase scan
    * of [[tokenCumBefore]] keeps every stage partition-parallel.
    *
    * Shard ids are identical for ANY partition count: the cumulative
    * sum is partitioning-invariant integer math.
    */
  def prefixShards(documents: DataFrame, budget: Long = 50000L,
                   parts: Int = 8): DataFrame =
    tokenCumBefore(documents, parts)
      .withColumn("shard", expr(s"cum_before div $budget"))
      .select($"doc_id", $"n_tokens", $"cum_before", $"shard")
      .orderBy($"doc_id")

  /** The distributed prefix sum over per-doc token counts in doc_id
    * order ([[Par.rangeOffsets]]) — shared engine of [[prefixShards]]
    * (q83) and [[contextPack]] (q95). Output is partition-count-
    * invariant integer math (q83's invariance spec).
    */
  private[graft] def tokenCumBefore(documents: DataFrame,
                                    parts: Int): DataFrame = {
    val toks = documents.select($"doc_id",
      size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
    val (ranged, _) =
      Par.rangeOffsets(toks, parts, Seq($"doc_id"), sum($"n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"pid").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ranged.withColumn("cum_before",
      coalesce(sum($"n_tokens").over(w), lit(0L)) + $"offset")
  }

  /** Context-window packing (q95): concatenate the corpus token stream
    * in doc_id order and chunk it into fixed-`contextLen` training
    * windows — the "pack and chunk" step that turns curated documents
    * into model-ready sequences. A document spanning a window boundary
    * is SPLIT: one output row per (doc, window) span, with the token
    * range of the doc that lands in that window — exactly the spans a
    * packed-dataset loader needs to build attention-reset boundaries.
    *
    * Rides [[tokenCumBefore]], so the global stream offset costs one
    * bounded driver gather, never a global window; the span explode is
    * per-row arithmetic (a doc yields ⌈n/C⌉ spans). Pure integer
    * (floor-div of non-negatives) — oracle-exact.
    */
  def contextPack(documents: DataFrame, contextLen: Long = 512L,
                  parts: Int = 8): DataFrame =
    tokenCumBefore(documents, parts)
      .filter($"n_tokens" > 0)
      .withColumn("first_w", expr(s"cum_before div $contextLen"))
      .withColumn("last_w",
        expr(s"(cum_before + n_tokens - 1) div $contextLen"))
      .select($"doc_id", $"n_tokens", $"cum_before",
        explode(sequence($"first_w", $"last_w")).as("window_id"))
      .withColumn("tok_start",
        greatest(lit(0L), $"window_id" * contextLen - $"cum_before"))
      .withColumn("tok_len",
        least($"n_tokens", ($"window_id" + 1) * contextLen - $"cum_before")
          - $"tok_start")
      .select($"doc_id", $"window_id", $"tok_start", $"tok_len")
      .orderBy($"window_id", $"doc_id")

  /** Temperature-weighted source-mixture plan (q94): per-source token
    * mass n_i reweighted by n_i^α (α = ½ — the "temperature" that
    * up-samples small sources), published as exact parts-per-million
    * sampling weights. The α=½ power is ⌊√n⌋ in INTEGER space and the
    * normalization is integer floor-division — no float ratio ever
    * crosses the oracle hash. (IEEE sqrt is correctly rounded, so
    * both engines compute the identical double before the floor;
    * cross-engine drift is impossible.)
    *
    * Scale: one (source)-keyed count/sum aggregate (map-side combined)
    * over the corpus; the normalizer is a ONE-ROW broadcast cross
    * join, the same bounded shape as q74's corpus stats.
    */
  def sourceMixture(documents: DataFrame): DataFrame = {
    // one row per source, referenced twice (normalizer + output) —
    // checkpointed so the normalizer doesn't re-run the full
    // tokenize pass a second time
    val base = documents
      .select($"source", size(TextAnalysis.tokens($"text"))
        .cast("long").as("n"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"))
      .withColumn("weight",
        floor(sqrt($"n_tokens".cast("double"))).cast("long"))
      .localCheckpoint(true)
    val total = base.agg(sum($"weight").as("total_w"))
    base.crossJoin(broadcast(total))
      .withColumn("p_ppm", expr("(weight * 1000000) div total_w"))
      .select($"source", $"n_docs", $"n_tokens", $"weight", $"p_ppm")
      .orderBy($"source")
  }

  /** Benchmark-contamination screen (q92): per source, how many
    * training documents share at least one word 8-gram with the held
    * eval set — the decontamination check every corpus runs before a
    * benchmark-bearing model train. Eval membership is the
    * deterministic doc_id gate (mod), matching this file's no-RNG
    * rule. The distinct eval 8-gram set is a tiny fraction of the
    * corpus and BROADCASTS into a left-semi join against the training
    * shingles — candidate screening never shuffles the training side
    * on content; at 100 TB the eval set stays benchmark-sized
    * (thousands of docs) while the broadcast stays megabytes. The
    * broadcast-vs-shuffle choice is CODE, not prose (the q63
    * `largeDict` analog): [[evalSliceBroadcastable]]'s plan-stats
    * estimate gates the plan, and an eval slice above the session's
    * broadcast budget swaps to a shuffled semi-join on the shingle
    * (`broadcastEval` forces either branch). On that shuffle path,
    * `hashShingleKeys = true` joins on 8-byte `xxhash64` shingle
    * keys instead of the raw strings — ~⅛ the shuffle bytes for
    * word 8-grams (a 64-bit hash over even 10¹² distinct shingles
    * collides with probability ~3·10⁻², and a semi-join collision
    * only flags one extra doc — acceptable for a screen; default
    * stays false because the DuckDB oracle must compute identical
    * join keys).
    *
    * Plan-shape guarantees, asserted in ScaleTechniquesSpec: the
    * eval branch filters on `doc_id` BEFORE tokenizing, so the ~1%
    * eval slice — never the full corpus — pays the tokenize+shingle
    * explode twice; and (round 11, matching [[curationManifest]])
    * the broadcast gate is driver-side plan stats only — building
    * the q92 plan launches zero jobs.
    */
  def contaminationScreen(documents: DataFrame, n: Int = 8,
                          mod: Int = 97,
                          broadcastEval: Option[Boolean] = None,
                          hashShingleKeys: Boolean = false): DataFrame = {
    val evalBase = documents.filter($"doc_id" % mod === 0)
    val shingleKey: Column => Column =
      if (hashShingleKeys) c => xxhash64(c) else identity
    val evalSh0 = evalBase
      .select(explode(
        TextAnalysis.shinglesOf(TextAnalysis.tokens($"text"), n)).as("s0"))
      .select(shingleKey($"s0").as("s"))
      .distinct()
    val evalSh =
      if (broadcastEval.getOrElse(evalSliceBroadcastable(documents, mod, n)))
        broadcast(evalSh0)
      else evalSh0
    val train = documents.filter($"doc_id" % mod =!= 0)
      .withColumn("w", TextAnalysis.tokens($"text"))
    val contaminated = train
      .select($"doc_id", $"source",
        explode(TextAnalysis.shinglesOf($"w", n)).as("s0"))
      .select($"doc_id", $"source", shingleKey($"s0").as("s"))
      .join(evalSh, Seq("s"), "left_semi")
      .select($"doc_id", $"source").distinct()
    train.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .join(contaminated.groupBy($"source")
        .agg(count(lit(1)).as("nc")), Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"nc", lit(0L)).as("n_contaminated"))
      .orderBy($"source")
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each
    * document by how much its n-gram features look drawn from a
    * TARGET distribution (here: the `lang = targetLang` slice, the
    * stand-in for "high-quality reference corpus") versus the raw
    * corpus, then keep the top-k — the hash-ngram importance
    * resampling move used to tilt a web crawl toward a quality
    * domain.
    *
    * Per-feature weight is the integer ppm ratio
    * `1e6·(target_df+1) div (corpus_df+1)` (add-one smoothed); a
    * document's score is the sum over its DISTINCT bigram features.
    * All-integer arithmetic keeps the score exact across engines (the
    * float log-ratio formulation would hash-drift; rank order is the
    * same because log is monotone in the ratio).
    *
    * Scale shape: ONE tokenize+explode pass, then BOTH document
    * frequencies ride a single `Window.partitionBy(b)` over that one
    * feature stream (corpus df = partition count, target df = a
    * conditional sum in the same window), each row picks up its
    * feature's ppm in place, and a groupBy(doc_id) re-aggregates;
    * TakeOrderedAndProject caps the result at k rows — no global
    * sort materializes. A join-back of the per-feature table onto
    * the feature stream reads nicer but plans the full-corpus
    * tokenize+explode TWICE: column pruning makes the two branches
    * non-identical, so neither exchange reuse nor AQE stage reuse
    * fires — the exact trap [[graft.operators.Dedup.substringDedup]]
    * documents; PlanAuditSpec counts the Generate nodes for both.
    * The window partitions on the high-cardinality bigram key, so no
    * task sees more than one feature's rows.
    *
    * `hashFeatures = true` is the production key: each bigram maps to
    * `xxhash64(bigram) mod numBuckets` right after the explode (DSIR's
    * actual hashed-feature trick, same gate as [[contaminationScreen]]'s
    * `hashShingleKeys`), so every downstream shuffle and window sort
    * moves an 8-byte key instead of an arbitrary-length string and the
    * frequency table is a fixed-width array. Bucket collisions merge
    * features' counts — the accepted DSIR semantics (Xie et al. use
    * hashed n-grams throughout). Raw string keys stay the default
    * because the oracle compares them byte-for-byte; a spec pins
    * rank-equality of the two paths on a planted frame.
    */
  def dsirWeights(documents: DataFrame, targetLang: String = "en",
                  topK: Int = 50, hashFeatures: Boolean = false,
                  numBuckets: Int = 8192): DataFrame = {
    val keyOf: Column => Column =
      if (hashFeatures) c => pmod(xxhash64(c), lit(numBuckets.toLong))
      else identity
    val feats = documents
      .withColumn("w", TextAnalysis.tokens($"text"))
      .select($"doc_id", $"lang",
        explode(array_distinct(TextAnalysis.shinglesOf($"w", 2))).as("b0"))
      // a whitespace-only document splits to ["",""] (split keeps the
      // leading empty token), which would mint a single-space feature;
      // drop features with no content (mirrored in the oracle SQL)
      .filter(trim($"b0") =!= "")
      .select($"doc_id", $"lang", keyOf($"b0").as("b"))
    val perFeature = org.apache.spark.sql.expressions.Window.partitionBy($"b")
    feats
      .select($"doc_id",
        count(lit(1)).over(perFeature).as("c_df"),
        sum(when($"lang" === targetLang, 1L).otherwise(0L))
          .over(perFeature).as("t_df"))
      .select($"doc_id",
        expr("(1000000 * (t_df + 1)) div (c_df + 1)").as("ppm"))
      .groupBy($"doc_id")
      .agg(sum($"ppm").as("score"), count(lit(1)).as("n_feats"))
      .orderBy($"score".desc, $"doc_id")
      .limit(topK)
  }

  /** Stats-driven broadcast pick for an eval shingle set: true → the
    * distinct word n-gram set of the `doc_id % mod == 0` slice fits
    * the session's broadcast budget. Decided entirely from Catalyst's
    * size estimate of the pruned text projection (driver-side plan
    * stats — no job; the [[Analytics.fuzzyDictLarge]] precedent)
    * scaled by the slice's deterministic 1/mod selectivity (the
    * default stats visitor doesn't estimate filter selectivity, but
    * this filter's is exact by construction), against
    * `spark.sql.autoBroadcastJoinThreshold`: every word lands in at
    * most n shingles, so raw shingle bytes are ≤ n× the slice's text
    * bytes and distinct() only shrinks that — the flip fires when n×
    * the estimated slice bytes exceeds the threshold, or when
    * auto-broadcast is disabled outright (threshold < 0, the
    * operator's scale intent respected).
    *
    * Parameter contract: `documents` must be the FULL corpus frame —
    * the ÷ mod scaling assumes the `doc_id % mod == 0` slice filter
    * has NOT been applied yet. A caller passing an already-pruned
    * frame gets the 1/mod selectivity applied a second time; the pick
    * can only misjudge the broadcast↔shuffle trade (never
    * correctness), but the estimate's safe direction is lost.
    *
    * Compression (round 12): for parquet sources `stats.sizeInBytes`
    * is compressed ON-DISK bytes, while the broadcast materializes
    * deserialized shingle strings — text compresses ~3-4× under
    * snappy, so the raw estimate can pass the gate yet blow the
    * in-memory budget. The estimate is therefore inflated by
    * max(`spark.sql.sources.fileCompressionFactor`,
    * [[TextDecompressionFactor]]) so the heuristic errs toward the
    * shuffle path — the same safe direction the fuzzyDictLarge
    * argument relies on (a shuffled semi-join is mildly slower on a
    * borderline holdout; an over-budget broadcast OOMs executors).
    */
  def evalSliceBroadcastable(documents: DataFrame, mod: Int,
                             n: Int): Boolean = {
    val conf = documents.sparkSession.sessionState.conf
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) false
    else {
      val textBytes = documents.select($"text")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val inflate = math.max(conf.fileCompressionFactor,
        TextDecompressionFactor)
      BigDecimal(textBytes) / mod * n * inflate <= BigDecimal(threshold)
    }
  }

  /** Observed snappy-parquet compression ratio envelope for natural
    * text (~3-4×): the deserialized-bytes multiplier
    * [[evalSliceBroadcastable]] applies to on-disk size estimates.
    */
  val TextDecompressionFactor = 4.0

  /** End-to-end curation manifest (q101): the composed
    * quality-gate → exact-dedup → decontaminate flow every training
    * corpus runs before a data mix is cut, reported as the per-source
    * funnel a pipeline operator actually reads — how many documents
    * enter, survive the quality gate, survive dedup, and remain after
    * benchmark decontamination, plus the token budget the clean set
    * contributes. This is the "switch from the reference" flagship:
    * its stages are the reference pipeline's task chain (quality
    * filter, content-hash dedup, eval-overlap screen) composed as ONE
    * declarative DataFrame flow that Catalyst plans whole — no
    * per-stage materialization, no driver orchestration.
    *
    * Stage semantics (training slice = `doc_id % mod != 0`, the same
    * deterministic eval split as [[contaminationScreen]]):
    *   - quality: [[TextAnalysis.withQuality]]'s score ≥ `qualityMin`;
    *   - dedup keeper: the min doc_id among QUALITY-PASSING training
    *     docs sharing md5(text) — a conditional window min in the
    *     same pass, no self-join (the q98 single-lineage rule);
    *   - clean: keeper AND shares no word `n`-gram with the eval
    *     slice (q92's broadcast left-semi screen, flipped to exclude).
    *
    * Scale shape: three passes over documents — the flags pass
    * (tokenize + quality + window over md5, shuffled on content
    * hash), the training shingle pass (tokenize + explode, semi-join
    * against the eval shingle set), and the ~1/mod
    * eval-slice pass. The contaminated-id frame joins back to the
    * flags pass on doc_id (AQE sizes it). A fused single-tokenize
    * variant would checkpoint the tokenized corpus — a data-sized
    * materialization this flow deliberately avoids; at 100 TB the
    * second tokenize is cheaper than the write. Gate allowance:
    * documents×3 with reasons (ScanCountGateSpec).
    *
    * The eval shingle set gets the same broadcast↔shuffle degradation
    * as [[contaminationScreen]] — a small holdout broadcasts, an
    * unbounded one falls back to a shuffled semi-join instead of
    * materializing an unbounded distinct 8-gram set on the driver —
    * but the pick comes from [[evalSliceBroadcastable]]'s driver-side
    * plan-stats estimate, NOT an eager count: building this plan
    * launches ZERO jobs (spec-pinned in ScaleTechniquesSpec), where
    * the q92 precedent pays one eager doc-count per construction.
    * `broadcastEval` forces a branch (the fuzzyPartNames `largeDict`
    * convention); `None` auto-picks.
    */
  def curationManifest(documents: DataFrame, qualityMin: Double = 0.5,
                       n: Int = 8, mod: Int = 97,
                       broadcastEval: Option[Boolean] = None): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text"))
    val flags = TextAnalysis.withQuality(documents.filter($"doc_id" % mod =!= 0))
      .withColumn("q_ok", $"quality" >= qualityMin)
      .withColumn("keeper_id", min(when($"q_ok", $"doc_id")).over(byHash))
      .withColumn("keep_dedup", $"q_ok" && $"doc_id" === $"keeper_id")
    val evalBase = documents.filter($"doc_id" % mod === 0)
    val evalSh0 = evalBase
      .withColumn("w", TextAnalysis.tokens($"text"))
      .select(explode(TextAnalysis.shinglesOf($"w", n)).as("s"))
      .distinct()
    val evalSh =
      if (broadcastEval.getOrElse(evalSliceBroadcastable(documents, mod, n)))
        broadcast(evalSh0)
      else evalSh0
    val contaminated = documents.filter($"doc_id" % mod =!= 0)
      .withColumn("w", TextAnalysis.tokens($"text"))
      .select($"doc_id", explode(TextAnalysis.shinglesOf($"w", n)).as("s"))
      .join(evalSh, Seq("s"), "left_semi")
      .select($"doc_id").distinct()
      .withColumn("tainted", lit(true))
    flags.join(contaminated, Seq("doc_id"), "left")
      .withColumn("keep_clean",
        $"keep_dedup" && !coalesce($"tainted", lit(false)))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"q_ok", 1L).otherwise(0L)).as("n_quality"),
        sum(when($"keep_dedup", 1L).otherwise(0L)).as("n_dedup"),
        sum(when($"keep_clean", 1L).otherwise(0L)).as("n_clean"),
        sum(when($"keep_clean", $"n_tokens").otherwise(0L)).as("total_tokens"))
      .orderBy($"source")
  }

  /** In-engine quality-classifier training (q117): logistic regression
    * over hashed bag-of-words features — the fastText/CCNet-class
    * linear quality filter every production curation stack trains
    * (GPT-3's quality classifier, CCNet's LM+linear gate) expressed as
    * distributed full-batch gradient descent. The demo objective is
    * the heuristic-label bootstrap real pipelines use: y = the q31
    * quality score at its corpus median ([[QcLabelGate]] — dyadic, so
    * the gate is float-exact). A production run swaps in any
    * document-level label column with the same plan. (A lang-based
    * objective was measured unlearnable here — the synthetic corpus
    * draws text and lang independently; see SURVEY §7h.)
    *
    * Determinism discipline (what makes this partitioning-invariant
    * where naive distributed SGD is not): weights live on a fixed-
    * point grid ([[QcScale]] units, the kmeans-centroid trick applied
    * to SGD) and every distributed reduction is an INTEGER sum —
    * margin_int = Σ_f cnt_f · w_int[f] per doc, and the per-feature
    * gradient accumulates floor((p−y)/n_tok · SCALE) · cnt_f per doc.
    * Doubles appear only in per-row sigmoid evaluation and in the
    * driver-side weight update, both deterministic — so the trained
    * model and every score are bit-identical under any partitioning
    * (spec-pinned).
    *
    * Scale shape: the feature frame — (doc_id, split, y, n_tok, f,
    * cnt), sparse hashed-TF like DSIR's production path — is built
    * once (one corpus scan + one (doc, f) combine) and
    * localCheckpointed: the classic cached training set. Each of the
    * `iters` rounds is one groupBy(doc) margin pass with the weight
    * vector INLINED as a literal (nFeatures longs — driver-resident,
    * the MLlib pattern) and one join-back gradient pass collapsing to
    * ≤ nFeatures rows collected to the driver (bounded certificate).
    * No corpus-sized state ever ships; rounds are independent of
    * corpus width.
    *
    * Held-out evaluation (r13): the corpus is sharded by q50's
    * deterministic hash split ([[TextAnalysis.hashSplit]] — xxhash64
    * bucket of doc_id, stable under any partitioning or corpus
    * growth) with [[QcHoldoutPct]]% held out as `val`; gradients are
    * computed from the TRAIN shard only, while every document —
    * train and val — is scored by the final model and tagged with
    * its split. Accuracy a consumer reads off the `val` rows is
    * honest generalization, not train-set recall; the spec pins the
    * val floor and the (expected, modest) train/val gap.
    */
  val QcFeatures = 512
  val QcScale = 1L << 20
  /** Held-out share (percent) for the classifier's validation shard —
    * larger than q50's declared 1% so val accuracy is readable at
    * sf0.01's ~600 docs (~60 val rows, not ~6).
    */
  val QcHoldoutPct = 10
  /** Label gate: quality >= 17/32 (the corpus median at every measured
    * SF — balanced classes; dyadic so the gate is float-exact).
    */
  val QcLabelGate = 17.0 / 32.0
  val QcMomentum = 0.9

  /** `labels` (r14, spec'd r15): an optional external (doc_id, y)
    * objective — the "production run swaps in any document-level
    * label column" sentence above made executable. None keeps the
    * declared q31 heuristic gate; Some(l) trains against l's labels
    * instead (docs without a label row drop out — the label's
    * coverage DEFINES the training corpus). The spec variant trains
    * against q112's LM-fluency gate — a bigram-ORDER label a bag of
    * hashed unigrams cannot encode on this corpus: measured train
    * 0.588 / val 0.458 (chance) across a full hyperparameter sweep,
    * vs val 0.958 for the built-in surface gate on the same machinery.
    * The held-out shard is what makes that failure VISIBLE — the
    * negative control QualityClassifierSpec pins (SURVEY §7j).
    */
  def qualityClassifier(documents: DataFrame, nFeatures: Int = QcFeatures,
                        iters: Int = 12, lrate: Double = 1.0,
                        holdoutPct: Int = QcHoldoutPct,
                        labels: Option[DataFrame] = None): DataFrame = {
    // hashed-TF features + one BIAS pseudo-feature per doc (index
    // nFeatures, cnt = n_tok): its margin contribution cnt·w/n_tok
    // = w_bias exactly, and its gradient rides the same integer
    // reduction as every real feature — one pass serves all. The
    // bias row comes from the BASE frame, not the feature rows, so
    // every document gets a score — a token-less doc (empty or
    // whitespace-only text, n_tok clamped to 1) trains and scores on
    // its bias alone instead of silently vanishing from the output
    // (review r12: the lowest-quality docs are exactly the ones a
    // quality filter must not drop).
    // fan the corpus scan out before the CPU-dense tokenize/quality
    // pass (r20, guide §2.5 — identity at scale, see Par.fan)
    val docs = Par.fan(documents, $"doc_id")
    val labeled = labels match {
      case Some(l) => docs
        .join(l.select($"doc_id", $"y".cast("int").as("y")), Seq("doc_id"))
      case None => TextAnalysis.withQuality(docs)
        .withColumn("y", ($"quality" >= QcLabelGate).cast("int"))
    }
    val base = TextAnalysis.hashSplit(
      labeled
        .select($"doc_id", $"y",
          filter(TextAnalysis.tokens(lower($"text")), w => w =!= "")
            .as("toks"))
        .withColumn("n_tok", greatest(size($"toks"), lit(1)).cast("long")),
      valPct = holdoutPct, testPct = 0)
    val featRows = base
      .select($"doc_id", $"split", $"y", $"n_tok", explode($"toks").as("w"))
      .select($"doc_id", $"split", $"y", $"n_tok",
        pmod(xxhash64($"w"), lit(nFeatures.toLong)).cast("int").as("f"))
      .groupBy($"doc_id", $"split", $"y", $"n_tok", $"f")
      .agg(count(lit(1)).as("cnt"))
    val biasRows = base.select($"doc_id", $"split", $"y", $"n_tok",
      lit(nFeatures).as("f"), $"n_tok".as("cnt"))
    // The GD rounds run outside Catalyst: re-planning a 2-aggregate +
    // join query per round cost more driver time than the rounds'
    // executor work. The feature frame is packed ONCE into a per-doc
    // RDD (doc_id, split, y, n_tok, [f], [cnt]) held by [[DriverLoop]],
    // and each round is ONE zero-shuffle job: every partition folds
    // its docs into a local (nFeatures+1) gradient array and
    // `RDD.reduce` sums the arrays as tasks finish, so the driver
    // holds O(features) at any partition count (a `treeReduce` would
    // add a shuffle stage per round). Integer arithmetic throughout:
    // margin_int = Σ cnt·w[f] and the gradient Σ cnt·gq are
    // order-free, gq = floor((σ(margin)−y)/n_tok·SCALE) uses the same
    // double ops as the DataFrame formulation, which
    // QualityClassifierSpec's differential test pins round by round.
    val trainRows = featRows.unionByName(biasRows)
    val spark = documents.sparkSession
    val nF = nFeatures
    // the per-doc grouping runs in SQL (Unsafe-row shuffle, AQE-sized
    // partitions — a raw RDD groupByKey was measured slower: Java-
    // serialized shuffle plus a core-count partitioning too wide for
    // the bounded loop state); the RDD layer only unpacks arrays
    // y is NULLABLE (an empty/whitespace doc has NULL quality ratios,
    // so the heuristic gate yields NULL) — carried as a boxed Integer
    // with the old SQL's semantics: a NULL-y train doc counts in
    // nDocs and in the feature-presence set (its rows grouped like
    // any other) but contributes nothing to any gradient (cnt·gq was
    // NULL, and sum() skips NULLs), and scores with y = NULL.
    val packedRows = trainRows
      .groupBy($"doc_id", $"split", $"y", $"n_tok")
      .agg(collect_list(struct($"f", $"cnt")).as("fc"))
      .rdd.map { r =>
        val fc = r.getSeq[org.apache.spark.sql.Row](4)
        val fs = new Array[Int](fc.length)
        val cnts = new Array[Long](fc.length)
        var j = 0
        while (j < fc.length) {
          fs(j) = fc(j).getInt(0); cnts(j) = fc(j).getLong(1); j += 1
        }
        val y: java.lang.Integer = if (r.isNullAt(2)) null else r.getInt(2)
        (r.getLong(0), r.getString(1), y, r.getLong(3), fs, cnts)
      }
    val scale = QcScale
    DriverLoop { loop =>
      val packed = loop.hold(packedRows)
      // one bounded setup job: train-doc count plus the set of
      // features that occur in the train shard — the momentum term
      // ticks only for features that occur
      val (nDocsRaw, presentF) = packed.mapPartitions { it =>
        var n = 0L
        val present = new Array[Boolean](nF + 1)
        it.foreach { d =>
          if (d._2 == "train") {
            n += 1
            var j = 0
            while (j < d._5.length) { present(d._5(j)) = true; j += 1 }
          }
        }
        Iterator.single((n, present))
      }.reduce { (a, b) =>
        val m = new Array[Boolean](nF + 1)
        var j = 0
        while (j <= nF) { m(j) = a._2(j) || b._2(j); j += 1 }
        (a._1 + b._1, m)
      }
      val nDocs = math.max(1L, nDocsRaw)
      val w = Array.fill(nFeatures + 1)(0L)
      val vel = Array.fill(nFeatures + 1)(0.0)
      var i = 0
      while (i < iters) {
        val bw = w.clone()
        val grad = packed.mapPartitions { it =>
          val acc = new Array[Long](nF + 1)
          it.foreach { case (_, split, y, nTok, fs, cnts) =>
            if (split == "train" && y != null) {
              var mint = 0L
              var j = 0
              while (j < fs.length) { mint += cnts(j) * bw(fs(j)); j += 1 }
              val margin = mint.toDouble / scale / nTok
              val gq = math.floor((1.0 / (1.0 + math.exp(-margin)) -
                y.doubleValue()) / nTok * scale).toLong
              var k = 0
              while (k < fs.length) { acc(fs(k)) += cnts(k) * gq; k += 1 }
            }
          }
          Iterator.single(acc)
        }.reduce { (a, b) =>
          var f = 0
          while (f <= nF) { a(f) += b(f); f += 1 }
          a
        }
        var f = 0
        while (f <= nFeatures) {
          if (presentF(f)) {
            // conditioning: a tf-normalized feature's gradient is ~1/nF
            // the bias pseudo-feature's scale — equalize the step so the
            // weights learn at the bias's rate instead of crawling; the
            // heavy-ball term (driver-side doubles, deterministic) cuts
            // the full-batch round count ~4x
            val step = if (f == nFeatures) lrate else lrate * nFeatures
            vel(f) = QcMomentum * vel(f) + step * grad(f).toDouble / nDocs
            w(f) -= math.round(vel(f))
          }
          f += 1
        }
        i += 1
      }
      // score EVERY document (train and val) with the final model; the
      // split tag makes the two accuracies separable downstream. The
      // bounded per-doc result is checkpointed eagerly, before the
      // loop releases `packed`.
      val fw = w.clone()
      val scoredRows = packed.map { case (docId, split, y, nTok, fs, cnts) =>
        var mint = 0L
        var j = 0
        while (j < fs.length) { mint += cnts(j) * fw(fs(j)); j += 1 }
        val margin = mint.toDouble / scale / nTok
        org.apache.spark.sql.Row(docId, split, y, margin,
          1.0 / (1.0 + math.exp(-margin)))
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, split STRING, y INT, margin DOUBLE, p DOUBLE")
      spark.createDataFrame(scoredRows, schema)
        .orderBy($"doc_id")
        .localCheckpoint(true)
    }
  }
}
