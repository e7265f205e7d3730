package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, Dedup, Ingest, Multimodal, Similarity, TextAnalysis, TimeSeries}
import graft.sources.Tables
import graft.streaming.EventStream
import graft.functions.Exact.{sql => X}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** One SQL text, two engines: runs verbatim through `spark.sql`
    * over registered views AND as its own DuckDB oracle (the
    * dialect-neutral subset) — the BI-tool SQL surface.
    */
  private val sqlInterfaceQuery =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        MAX(value) AS max_value
      FROM events
      GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Analytics.revenueByNation(
      Tables.orders(spark, dir), Tables.customer(spark, dir),
      Tables.nation(spark, dir), Tables.region(spark, dir))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. core relational / batch analytics ----
    "q01_pricing_summary" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q02_filter_pushdown" -> ((s, d) => Analytics.revenueFilter(Tables.lineitem(s, d))),
    "q03_join_dims" -> ((s, d) => Analytics.revenueByNation(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q04_topn" -> ((s, d) => Analytics.topCustomers(Tables.orders(s, d), Tables.customer(s, d))),
    "q05_group_stats" -> ((s, d) => Analytics.groupStats(Tables.events(s, d))),
    "q06_high_value" -> ((s, d) => Analytics.highValue(Tables.events(s, d))),
    "q07_distinct_count" -> ((s, d) => Analytics.distinctCounts(Tables.events(s, d))),
    "q08_pivot" -> ((s, d) => Analytics.dayTypePivot(Tables.events(s, d), eventTypes)),
    "q09_window_rank" -> ((s, d) => Analytics.topOrderPerCustomer(Tables.orders(s, d))),
    "q10_latest_per_key" -> ((s, d) => Analytics.latestPerUser(Tables.events(s, d))),
    // ---- B. time-series OLAP ----
    "q11_time_floor_hour" -> ((s, d) => TimeSeries.hourlyAvg(Tables.events(s, d))),
    "q12_time_floor_day_max" -> ((s, d) => TimeSeries.dailyExtremes(Tables.events(s, d))),
    "q13_rollup_minute" -> ((s, d) => TimeSeries.minuteRollup(Tables.events(s, d))),
    "q14_per_source_stats" -> ((s, d) => TimeSeries.perSourceStats(Tables.documents(s, d))),
    "q15_freshness" -> ((s, d) => TimeSeries.freshness(Tables.events(s, d))),
    "q16_gap_detection" -> ((s, d) => TimeSeries.gaps(Tables.events(s, d))),
    "q17_sessionize" -> ((s, d) => TimeSeries.sessionize(Tables.events(s, d))),
    "q18_anomaly_zscore" -> ((s, d) => TimeSeries.anomalies(Tables.events(s, d))),
    "q19_storage_metrics" -> ((s, d) => TimeSeries.storageMetrics(Tables.documents(s, d))),
    // ---- C. ingestion / semi-structured ----
    "q20_log_parse" -> ((s, d) => Ingest.logParse(Tables.events(s, d))),
    "q21_json_extract" -> ((s, d) => Ingest.jsonExtract(Tables.events(s, d))),
    "q22_normalize" -> ((s, d) => Ingest.normalize(Tables.events(s, d))),
    // ---- D. deduplication ----
    "q23_dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "q24_dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "q25_dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    "q26_dedup_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "q27_dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(Tables.embeddings(s, d))),
    // ---- E. similarity search ----
    "q28_cosine_topk" -> ((s, d) => Similarity.cosineTopK(Tables.embeddings(s, d))),
    "q29_ann_lsh" -> ((s, d) => Similarity.annTopK(Tables.embeddings(s, d))),
    // ---- F. text analysis ----
    "q30_token_stats" -> ((s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))),
    "q31_quality_score" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "q32_lang_id" -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "q33_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    // ---- G. multimodal / streaming ----
    "q34_multimodal_features" -> ((s, d) => Multimodal.featurePipeline(Tables.documents(s, d))),
    "q35_streaming_rollup" -> ((s, d) => EventStream.batchRollup(Tables.events(s, d))),
    "q36_session_window" -> ((s, d) => TimeSeries.sessionWindows(Tables.events(s, d))),
    "q37_kafka_roundtrip" -> ((s, d) => Ingest.kafkaRoundTrip(Tables.events(s, d))),
    "q38_data_quality" -> ((s, d) => Analytics.dataQuality(Tables.events(s, d))),
    "q39_percentiles" -> ((s, d) => Analytics.percentiles(Tables.events(s, d))),
    "q40_shipping_priority" -> ((s, d) => Analytics.shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q41_pii_scrub" -> ((s, d) => TextAnalysis.piiScrub(Tables.events(s, d))),
    "q42_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "q43_salted_agg" -> ((s, d) =>
      operators.Skew.saltedAgg(Tables.events(s, d), "event_type", "value", "event_id")),
    "q44_catalog_meta" -> ((s, d) => sources.CatalogMeta.describeTables(s, d)),
    "q45_ann_ivf" -> ((s, d) => Similarity.ivfTopK(Tables.embeddings(s, d))),
    "q46_label_centroids" -> ((s, d) => Similarity.labelCentroids(Tables.embeddings(s, d))),
    "q47_new_high_alerts" -> ((s, d) =>
      // batch twin: the stateful flatMapGroupsWithState form would
      // buffer full per-user history in batch mode; the window plan is
      // the scalable batch expression of the same semantics
      // (equivalence spec'd in StreamingFormatsSpec)
      EventStream.newHighAlertsBatch(Tables.events(s, d))),
    "q48_asof_join" -> { (s, d) =>
      import org.apache.spark.sql.functions.{col, max}
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      operators.AsOf.joinAsOf(
          Tables.events(s, d), o,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("o_orderdate", "o_orderkey"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("o_orderdate"), col("o_orderkey"))
        .orderBy(col("event_id"))
    },
    "q49_range_join" -> ((s, d) => TimeSeries.eventPairsWithin(Tables.events(s, d))),
    "q50_hash_split" -> ((s, d) => TextAnalysis.splitSummary(Tables.documents(s, d))),
    "q51_cube" -> ((s, d) => Analytics.cubeDayType(Tables.events(s, d))),
    "q52_unpivot" -> ((s, d) => Analytics.measureTotals(Tables.lineitem(s, d))),
    "q53_time_weighted_avg" -> ((s, d) => TimeSeries.timeWeightedAvg(Tables.events(s, d))),
    "q54_weighted_mean" -> ((s, d) => Analytics.weightedMeanByType(Tables.events(s, d))),
    "q55_sql_interface" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("events")
      s.sql(sqlInterfaceQuery)
    },
    "q56_semi_join" -> ((s, d) =>
      Analytics.ordersWithReturns(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q57_anti_join" -> ((s, d) =>
      Analytics.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q58_set_ops" -> ((s, d) => Analytics.clickPurchaseSets(Tables.events(s, d))),
    "q59_local_supplier_volume" -> ((s, d) => Analytics.localSupplierVolume(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q60_moving_average" -> ((s, d) => Analytics.movingAverage(Tables.orders(s, d))),
    "q61_histogram" -> ((s, d) => Analytics.valueHistogram(Tables.events(s, d))),
    "q62_rollup" -> ((s, d) => Analytics.revenueRollup(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q63_fuzzy_join" -> ((s, d) => Analytics.fuzzyPartNames(Tables.part(s, d))),
    "q64_approx_aggregates" -> ((s, d) => Analytics.approxGroupStats(Tables.events(s, d))),
    "q65_bucketed_join" -> ((s, d) => sources.Bucketed.bucketedOrderRevenue(s, d)),
    // ---- I. round-3: curation, cohort & relevance operators ----
    "q66_dup_clusters" -> ((s, d) => Dedup.dupClusters(Tables.documents(s, d))),
    "q67_stratified_sample" -> ((s, d) => operators.Sampling.stratifiedSample(
      Tables.documents(s, d), SampleFractions)),
    "q68_grouping_sets" -> ((s, d) => Analytics.docGroupingSets(Tables.documents(s, d))),
    "q69_spend_deciles" -> ((s, d) => Analytics.spendDeciles(Tables.orders(s, d))),
    "q70_term_freq" -> ((s, d) => TextAnalysis.termFreqTopK(Tables.documents(s, d))),
    "q71_funnel" -> ((s, d) => TimeSeries.funnel(Tables.events(s, d))),
    "q72_retention_cohort" -> ((s, d) => TimeSeries.retentionCohorts(Tables.events(s, d))),
    "q73_kmeans_step" -> ((s, d) => Similarity.kmeansStep(Tables.embeddings(s, d))),
    "q74_bm25_rank" -> ((s, d) => TextAnalysis.bm25Rank(Tables.documents(s, d), Bm25Terms)),
    "q75_merge_upsert" -> ((s, d) => Ingest.ordersUpsert(Tables.orders(s, d))),
    "q76_min_cost_supplier" -> ((s, d) => Analytics.minCostSupplier(
      Tables.part(s, d), Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q77_event_type_profile" -> ((s, d) => Analytics.eventTypeProfile(Tables.events(s, d))),
    "q78_hopping_windows" -> ((s, d) => TimeSeries.hoppingWindows(Tables.events(s, d))),
    "q79_value_spread" -> ((s, d) => TimeSeries.valueSpread(Tables.events(s, d))),
    "q80_above_customer_avg" -> ((s, d) => Analytics.aboveCustomerAvg(Tables.orders(s, d))),
    "q81_scd2_priority" -> ((s, d) => Analytics.scd2Priority(Tables.orders(s, d))),
    "q82_training_mix" -> ((s, d) => operators.Sampling.trainingMix(
      Tables.documents(s, d), SampleFractions)),
    "q83_prefix_shards" -> ((s, d) => operators.Sampling.prefixShards(Tables.documents(s, d))),
    "q84_normalize_embeddings" -> ((s, d) =>
      Similarity.normalizeEmbeddings(Tables.embeddings(s, d))),
    "q85_frame_sample" -> ((s, d) => Multimodal.frameSample(Tables.documents(s, d))),
    "q86_resize_pool" -> ((s, d) => Multimodal.resizePool(Tables.documents(s, d))),
    "q87_incremental_rollup" -> ((s, d) => Analytics.incrementalRollup(Tables.events(s, d))),
    "q88_salted_join" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      operators.Skew.saltedJoin(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
          Tables.customer(s, d)
            .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
          key = "user_id", idCol = "event_id")
        .select(col("event_id"), col("user_id"), col("c_mktsegment"), col("value"))
        .orderBy(col("event_id"))
    },
    "q89_bpeish_tokens" -> ((s, d) => TextAnalysis.tokenCounts(Tables.events(s, d))),
    "q90_gap_fill" -> ((s, d) => TimeSeries.gapFill(Tables.events(s, d))),
    "q91_bpe_pair_freq" -> ((s, d) => TextAnalysis.bpePairFreq(Tables.documents(s, d))),
    "q92_contamination" -> ((s, d) =>
      operators.Sampling.contaminationScreen(Tables.documents(s, d))),
    "q93_quality_rules" -> ((s, d) =>
      TextAnalysis.qualityRules(Tables.documents(s, d))),
    "q94_source_mixture" -> ((s, d) =>
      operators.Sampling.sourceMixture(Tables.documents(s, d))),
    "q95_context_pack" -> ((s, d) =>
      operators.Sampling.contextPack(Tables.documents(s, d))),
    "q96_inverted_index" -> ((s, d) =>
      TextAnalysis.invertedIndex(Tables.documents(s, d))),
    // reads the committed synthetic GOES-shaped NetCDF-4 fixture
    // (NetCdf.goesSampleGlob) via the from-scratch HDF5 reader;
    // sfDir-independent input, rows-only (DuckDB has no HDF5)
    "q97_goes_irradiance" -> ((s, _) => sources.NetCdf.goesIrradiance(s)),
    "q98_substring_dedup" -> ((s, d) =>
      operators.Dedup.substringDedup(Tables.documents(s, d))),
    "q99_dsir_importance" -> ((s, d) =>
      operators.Sampling.dsirWeights(Tables.documents(s, d))),
    // iterative merge loop — not one-statement SQL, rows-only in the
    // oracle gate; planted-corpus merge sequences pinned in NewOpsSpec
    "q100_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(Tables.documents(s, d))),
    "q101_curation_e2e" -> ((s, d) =>
      operators.Sampling.curationManifest(Tables.documents(s, d))),
    // rows-only: iterative train+encode; reference-encoder equivalence
    // and conservation invariants pinned in NewOpsSpec
    "q102_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeEncode(Tables.documents(s, d))),
    "q103_zorder_layout" -> ((s, d) =>
      operators.Layout.zorderLayout(Tables.orders(s, d))),
    "q104_quantize_int8" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))),
    "q105_bloom_screen" -> ((s, d) =>
      Dedup.bloomScreen(Tables.documents(s, d))),
    // q27's occupancy-bounded form: blocking key from a coarse
    // quantizer (seeded cells here; trained cells via
    // embeddingNearDupCells) instead of the stored label
    "q106_dedup_embedding_cells" -> ((s, d) =>
      Dedup.embeddingNearDupSeeded(Tables.embeddings(s, d))),
    // SemDeDup-style pruning over q106's cells: keep a vector iff no
    // smaller-id cell-mate is cosine-similar at τ
    "q107_semdedup_prune" -> ((s, d) =>
      Dedup.semdedupPrune(Tables.embeddings(s, d))),
    // canonical text normalization: whitespace collapse + trim + NFC
    // (native graft_nfc), the standard pre-dedup canonicalization
    "q109_text_normalize" -> ((s, d) =>
      TextAnalysis.normalizeText(Tables.documents(s, d))),
    // Druid-style two-level HLL sketch rollup (rows-only: sketch
    // estimates are engine-specific; invariants spec-pinned)
    "q110_sketch_rollup" -> ((s, d) =>
      TimeSeries.sketchRollup(Tables.events(s, d))),
    // product-quantization ADC search (rows-only: iterative per-
    // subspace Lloyd training; recall + ADC reconstruction identity
    // pinned in NewOpsSpec)
    "q111_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d))),
    // two-pass heavy hitters: mergeable Misra-Gries candidates +
    // exact recount — final output deterministic, hash-oracled
    "q113_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d))),
    // CCNet-style bigram-LM fluency score; per-doc float sum made
    // order-deterministic (sorted fold), so it hash-oracles exactly
    "q112_lm_fluency" -> ((s, d) =>
      TextAnalysis.lmFluency(Tables.documents(s, d))),
    // JL ±1 random projection — map-only, integer-exact, sign matrix
    // shared with the oracle via the same seeded generator
    "q114_random_projection" -> ((s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d))),
    // greedy k-center diversity sample — integer-exact pick sequence,
    // replayed by a recursive-CTE oracle
    "q115_kcenter_sample" -> ((s, d) =>
      Similarity.kcenterSample(Tables.embeddings(s, d))),
    // KMV theta-sketch distinct-user intersection per event-type pair
    // (rows-only: xxhash64 has no DuckDB twin; error bound + lossless
    // small-union collapse spec-pinned)
    "q116_kmv_intersect" -> ((s, d) =>
      TimeSeries.kmvIntersect(Tables.events(s, d))),
    // IVF cell manifest (occupancy + residual health per cell) —
    // argmin assignment, nCells-row output, hash-oracled
    "q119_cell_manifest" -> ((s, d) =>
      Similarity.cellManifest(Tables.embeddings(s, d))),
    // RAG-style sliding-window chunking with tail coverage —
    // map-only, integer spans, hash-oracled
    "q118_chunk_windows" -> ((s, d) =>
      TextAnalysis.chunkWindows(Tables.documents(s, d))),
    // Druid-quantiles-style mergeable log-grid value sketch: daily
    // sketch rows merged to per-type percentiles (rows-only: the
    // one≡two-level merge equality and error bound vs q39's exact
    // percentiles are spec-pinned)
    "q120_quantile_rollup" -> ((s, d) =>
      TimeSeries.quantileRollup(Tables.events(s, d))),
    // the Druid ingest loop END-TO-END (r14): stream → checkpointed
    // exactly-once sketch SEGMENT table → percentiles answered from
    // the stored table (rows-only: streaming + temp-dir sink; the
    // stored≡batch, restart, and replay-idempotence properties are
    // spec-pinned, and output ≡ q120 structurally)
    "q121_sketch_store" -> ((s, d) =>
      EventStream.sketchStoreRoundTrip(s, d)),
    // in-engine LR quality-classifier training over hashed features,
    // trained on the q50 hash-split train shard and scored over every
    // doc with its split tag (held-out val accuracy spec-pinned)
    // (rows-only: iterative + xxhash64 features; fixed-point gradient
    // sums make train + scores partitioning-invariant, spec-pinned)
    "q117_quality_classifier" -> ((s, d) =>
      operators.Sampling.qualityClassifier(Tables.documents(s, d))),
    // full Lloyd loop (rows-only: iterative) — trained centroids in
    // long form, the q106/q107 codebook producer
    "q108_kmeans_train" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, posexplode}
      Similarity.kmeansTrain(Tables.embeddings(s, d), kCents = 8, iters = 3)
        .select(col("cid"), posexplode(col("cv")).as(Seq("dim", "c_q")))
        .orderBy("cid", "dim")
    }),
    // CCNet-style keep-first span dedup with per-doc text
    // reconstruction (the REMOVAL counterpart to q98's measurement)
    "q122_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(Tables.documents(s, d))),
    // retention decision over q66's clusters: keep the single
    // highest-quality (q31) doc per duplicate cluster
    "q123_dedup_keep_best" -> ((s, d) =>
      Dedup.dedupKeepBest(Tables.documents(s, d))),
    // ExactSubstr-style removal at ARBITRARY alignment: rolling
    // k-token windows (q98's measurement) composed into per-doc
    // covered-interval cuts — catches the offset duplicates q122's
    // fixed tiles provably miss
    "q124_exact_substring_removal" -> ((s, d) =>
      Dedup.exactSubstrRemoval(Tables.documents(s, d))),
    // perceptual-hash (dHash) image dedup over the decoded image
    // shard, hamming-banded (rows-only: DuckDB has no PPM decoder;
    // brightness-invariance + planted-collision specs pin it)
    "q125_image_near_dup" -> ((s, d) =>
      Dedup.imageNearDup(Tables.documents(s, d))),
    // FAISS-style IVFPQ fusion: q45's trained coarse cells restrict
    // q111's ADC code scan to nProbe cells before the exact re-rank
    // (rows-only: iterative two-trainer composition; recall floors
    // and the candidate-volume law are spec-pinned)
    "q126_ivfpq_topk" -> ((s, d) =>
      Similarity.ivfpqTopK(Tables.embeddings(s, d))),
    // keep-best retention over the MINHASH-LSH near-dup path — q123's
    // decision contract with the edge signal swapped to the banded
    // sketch join, the composition a 100-TB pipeline runs (rows-only:
    // minhash has no DuckDB twin; q123 is the oracle-checkable twin)
    "q127_dedup_keep_best_lsh" -> ((s, d) =>
      Dedup.dedupKeepBestLsh(Tables.documents(s, d))),
    // INCREMENTAL ExactSubstr: two ordered batches cleaned against a
    // persisted first-occurrence table — provably ≡ one-shot q124 on
    // ordered arrival, so it shares q124's oracle verbatim (the gate
    // proves the incremental path's equality cross-engine)
    "q128_exact_substring_incremental" -> ((s, d) =>
      Dedup.exactSubstrRemovalTwoBatch(Tables.documents(s, d))),
    // Druid-approximate TopN: weighted Misra-Gries candidate sketch
    // (capacity = Druid's 1000-candidate segment pool) + exact
    // recount of the broadcast candidates — reported values exact,
    // recall bounded by the sketch guarantee (rows-only: candidate
    // retention beyond the W/(cap+1) guarantee is partition-
    // dependent; planted-whale + measured-equality specs pin it)
    "q132_topn_approx" -> ((s, d) =>
      Analytics.topCustomersApprox(Tables.orders(s, d), Tables.customer(s, d))),
    // standing MinHash near-dup screen over a PERSISTED band store
    // (round 18: the localCheckpoint stand-in retired): two batches
    // arrive through the marker-committed exactly-once ingest into a
    // parquet store (bands band-partitioned, edges + decisions logged
    // per segment), decisions answered merge-on-read from the STORED
    // edge log (rows-only: minhash, q127 is the in-session twin —
    // stored ≡ one-shot q127, crash-replay idempotence, and
    // arrival-order invariance spec-pinned)
    "q129_minhash_screen" -> ((s, d) =>
      operators.MinhashStore.roundTrip(s, d)),
    // IVFPQ search FROM a persisted cid-partitioned parquet index —
    // the stored form of q126: the probed-cell restriction becomes
    // partition-pruned I/O, asserted as PartitionFilters in
    // PlanAuditSpec (rows-only: iterative trainers + temp-dir store;
    // output ≡ q126 exactly, spec-pinned)
    "q130_ivfpq_stored" -> ((s, d) =>
      Similarity.ivfpqStoreRoundTrip(s, d)),
    // IVFPQ with both quantizers trained on a bounded hash-gated
    // sample (~4k vectors) — the FAISS training economics: cost ∝
    // sample, not corpus × iters; full-corpus encode + search
    // unchanged (rows-only: iterative; recall parity vs the
    // full-trained path spec-pinned at 1× and 10×)
    "q131_ivfpq_sampled" -> ((s, d) =>
      Similarity.ivfpqTopKSampled(Tables.embeddings(s, d))),
    // DCT-pHash image dedup: q125's pipeline with the frequency-
    // domain hash — integer-exact brightness invariance PLUS exact
    // NN-rescale collision, which the fixed-grid dHash drifts on
    // (rows-only: DuckDB has no PPM decoder; invariance/rescale/
    // planted-collision specs pin it)
    "q133_image_phash" -> ((s, d) =>
      Dedup.imageNearDupPhash(Tables.documents(s, d))),
    // IVFPQ APPEND: train-once/add-many against the persisted index —
    // base 2/3 written, held-out third appended in two batches, the
    // standard query batch answered from the accreted store
    // (rows-only: temp-dir store + iterative trainers; append ≡
    // present-at-build byte-identity and granularity invariance
    // spec-pinned)
    "q134_ivfpq_append" -> ((s, d) =>
      Similarity.ivfpqAppendRoundTrip(s, d)),
    // IVFPQ DELETE: FAISS remove_ids against the persisted index —
    // deletions land as a bounded tombstone table, the stored search
    // anti-joins them out before the shortlist window, and the
    // scheduled compaction folds them physically (rows-only: temp-dir
    // store + iterative trainers; exclusion, no-op re-delete, and the
    // byte-identical compaction fold are spec-pinned)
    "q135_ivfpq_delete" -> ((s, d) =>
      Similarity.ivfpqDeleteRoundTrip(s, d)),
    // IVFPQ manifest-driven RETRAIN: the coordinator-period stage
    // reads the stored index's residual-health manifest and rebuilds
    // the quantizers only when the corpus drifted past them (baseline
    // → planted off-manifold append → exactly one retrain → no-op);
    // output is the 3-run decision log (rows-only: temp-dir store +
    // iterative trainers; the single-fire law, post-retrain search ≡
    // fresh-build, and crash recovery are spec-pinned)
    "q136_ivfpq_retrain" -> ((s, d) =>
      Similarity.ivfpqRetrainRoundTrip(s, d)),
    // CROP-tolerant pHash dedup: the tiled family (whole frame + nine
    // 75% windows) paired by min-hamming over variants — a border-
    // trimmed re-upload collides with its original's matching tile
    // bit-for-bit, the failure mode q133's whole-frame grid cannot
    // survive (rows-only: DuckDB has no PPM decoder; the planted-crop
    // collision and q133-signal-preservation specs pin it)
    "q137_image_crop_dedup" -> ((s, d) =>
      Dedup.imageNearDupCrop(Tables.documents(s, d))),
    // STREAMING ingest into the persisted IVFPQ store: the held-out
    // third lands as marker-committed codes_seg segments (exactly-once
    // under checkpoint replay — q129's discipline for the ANN store),
    // searched through the base+segments union without compaction
    // (rows-only: temp-dir store + iterative trainers; byte-equality
    // with q134's batch-append store, replay idempotence, and the
    // fold/sweep crash windows are spec-pinned)
    "q138_ivfpq_stream" -> ((s, d) =>
      Similarity.ivfpqStreamRoundTrip(s, d)),
  )

  /** q67: per-language keep fractions (the "cap the over-represented
    * languages" curation move; thresholds are sixteenths so the hex
    * gate is exact).
    */
  private val SampleFractions = Map(
    "en" -> 0.5, "es" -> 0.25, "zh" -> 0.25, "de" -> 0.125, "fr" -> 0.125)

  /** q74: fixed query-term set (high-frequency corpus vocabulary). */
  private val Bm25Terms = Seq("data", "query", "spark")

  /** Shared oracle CTE block: word-shingle near-dup pair scoring with
    * the same stop-shingle DF cap [[operators.Dedup.MaxShingleDf]] the
    * Spark operator applies (hot shingles leave CANDIDATE GENERATION
    * only; set sizes keep the full set). Used by q24 (pairs), q66 and
    * q123 (cluster edges) so the oracles cannot drift apart.
    */
  private val nearDupCtes: String =
    s"""toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, len(w)-1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          FROM toks WHERE len(w) >= 3),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        hot AS (SELECT s FROM sh GROUP BY s
                HAVING COUNT(*) > ${operators.Dedup.MaxShingleDf}),
        shc AS (SELECT doc_id, s FROM sh
                WHERE s NOT IN (SELECT s FROM hot)),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        scored_pairs AS (
          SELECT doc_a, doc_b, n_common,
                 n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
          FROM inter
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id)"""

  /** Shared oracle CTE block: connected components over q24's near-dup
    * pairs (`scored_pairs`, from [[nearDupCtes]]) plus exact-dup edges,
    * as a recursive reachability CTE — lbl reaches node ⇒ propagate
    * along undirected edges; component id = min reachable label (the
    * same fixed point the Spark-side min-label propagation converges
    * to). Yields `cc` (doc_id, cluster_id) and `cs` (cluster_id,
    * cluster_size). Used by q66 (clusters) and q123 (keep-best).
    */
  private val clusterCtes: String =
    """near AS (
          SELECT doc_a, doc_b FROM scored_pairs WHERE jaccard >= 0.1),
        hashes AS (SELECT doc_id, md5(text) AS h FROM documents),
        roots AS (SELECT h, MIN(doc_id) AS root FROM hashes GROUP BY 1),
        exact_e AS (
          SELECT r.root AS doc_a, d.doc_id AS doc_b
          FROM hashes d JOIN roots r ON d.h = r.h
          WHERE d.doc_id != r.root),
        edges AS (
          SELECT doc_a, doc_b FROM near
          UNION SELECT doc_a, doc_b FROM exact_e),
        und AS (
          SELECT doc_a AS u, doc_b AS v FROM edges
          UNION SELECT doc_b, doc_a FROM edges),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.v, r.lbl FROM reach r JOIN und e ON r.node = e.u),
        cc AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY 1),
        cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY 1)"""

  /** Shared oracle CTE block: q73's seeded argmin-d2 cell assignment
    * (the first 32 vectors as centroids; ROW_NUMBER over (d2, cid) =
    * min(struct(d2, cid))) with each vector's L2 norm. Yields `n`
    * (vec_id, v, cid, nrm). Used by q106 (pairs) and q107 (pruning).
    */
  private val seededCellCtes: String =
    """q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        cents AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 32),
        scored AS (
          SELECT q.vec_id, q.v, c.cid,
            CAST(list_sum(list_transform(range(1, 65),
              i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM scored) t WHERE rn = 1),
        n AS (
          SELECT vec_id, v, cid,
            sqrt(CAST(list_sum(list_transform(range(1, 65), i -> v[i]*v[i])) AS DOUBLE)) AS nrm
          FROM assigned)"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Aggregates of double columns round-trip through DECIMAL(18,2) in
    * BOTH engines (see graft.functions.Exact) so results are exact.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
          ${X.dsum("l_quantity")} AS sum_qty,
          ${X.dsum("l_extendedprice")} AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          ${X.davg("l_quantity")} AS avg_qty,
          ${X.davg("l_extendedprice")} AS avg_price,
          COUNT(*) AS count_order
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_filter_pushdown" ->
      s"""SELECT
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q03_join_dims" ->
      s"""SELECT r_name, n_name, ${X.dsum("o_totalprice")} AS revenue,
          COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q04_topn" ->
      s"""SELECT c_custkey, c_name, total_spend, n_orders FROM (
          SELECT o_custkey, ${X.dsum("o_totalprice")} AS total_spend,
                 COUNT(*) AS n_orders
          FROM orders GROUP BY 1) t
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spend DESC, c_custkey LIMIT 10""",
    "q05_group_stats" ->
      s"""SELECT event_type, COUNT(*) AS n, ${X.davg("value")} AS avg_value,
          ${X.dsum("value")} AS sum_value,
          MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY 1 ORDER BY 1""",
    "q06_high_value" ->
      """SELECT event_id, user_id, event_type, value FROM events
        WHERE value > 400.0 ORDER BY value DESC, event_id LIMIT 100""",
    "q07_distinct_count" ->
      """SELECT COUNT(DISTINCT user_id) AS n_users,
          COUNT(DISTINCT event_type) AS n_event_types,
          COUNT(*) AS n_events FROM events""",
    "q08_pivot" ->
      ("""SELECT date_trunc('day', ts) AS day, """
        + eventTypes.map(t =>
            s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
          .mkString(", ")
        + """ FROM events GROUP BY 1 ORDER BY 1"""),
    "q09_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t WHERE rn = 1 ORDER BY o_custkey""",
    "q10_latest_per_key" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1 ORDER BY user_id""",
    "q11_time_floor_hour" ->
      s"""SELECT date_trunc('hour', ts) AS hour, ${X.davg("value")} AS avg_value,
          COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""",
    "q12_time_floor_day_max" ->
      """SELECT date_trunc('day', ts) AS day, MAX(value) AS max_value,
          MIN(value) AS min_value
        FROM events GROUP BY 1 ORDER BY 1""",
    "q13_rollup_minute" ->
      s"""SELECT date_trunc('minute', ts) AS minute, event_type,
          COUNT(*) AS n, ${X.dsum("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q14_per_source_stats" ->
      """SELECT source, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
          MAX(n_chars) AS max_chars, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY 1""",
    "q15_freshness" ->
      """SELECT COUNT(*) AS n_last_24h, MAX(ts) AS max_ts FROM events
        WHERE ts >= (SELECT MAX(ts) - INTERVAL 24 HOUR FROM events)""",
    "q16_gap_detection" ->
      """SELECT user_id, prev_ts, ts, epoch_us(ts) - epoch_us(prev_ts) AS gap_us
        FROM (
          SELECT user_id, ts, event_id,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events) t
        WHERE epoch_us(ts) - epoch_us(prev_ts) > 3600000000
        ORDER BY user_id, ts""",
    "q17_sessionize" ->
      s"""WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id, value,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events) t),
        sessions AS (
          SELECT user_id, ts, value,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               ${X.dsum("value")} AS session_value
        FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""",
    "q18_anomaly_zscore" ->
      s"""WITH stats AS (
          SELECT event_type AS t,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 ${X.dsum("value")} AS s,
                 ${X.dsumsq("value")} AS ss
          FROM events GROUP BY 1),
        enriched AS (
          SELECT t, s / n AS mean,
                 SQRT((ss - s * s / n) / (n - 1)) AS sd
          FROM stats)
        SELECT event_id, event_type, value, (value - mean) / sd AS zscore
        FROM events JOIN enriched ON event_type = t
        WHERE sd > 0 AND ABS((value - mean) / sd) > 1.5
        ORDER BY event_id""",
    "q19_storage_metrics" ->
      """WITH per_source AS (
          SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars
          FROM documents GROUP BY 1),
        totals AS (
          SELECT COUNT(*) AS n_sources, CAST(SUM(n) AS BIGINT) AS n_docs,
                 CAST(SUM(chars) AS BIGINT) AS total_chars
          FROM per_source)
        SELECT n_sources, n_docs, total_chars,
               total_chars / 1024.0 / 1024.0 AS total_mb,
               total_chars / 1024.0 / n_docs AS avg_record_kb,
               total_chars / 1024.0 / 1024.0 / n_sources * 1440.0 AS daily_growth_mb,
               total_chars / 1024.0 / 1024.0 / n_sources * 1440.0 * 7.0 AS weekly_growth_mb,
               total_chars / 1024.0 / 1024.0 / n_sources * 1440.0 * 30.0 AS monthly_growth_mb
        FROM totals""",
    "q20_log_parse" ->
      """SELECT event_id,
          '192.168.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
            CAST(event_id % 256 AS VARCHAR) AS ip_address,
          CASE WHEN event_type IN ('purchase', 'signup') THEN 'POST'
               ELSE 'GET' END AS method,
          '/' || event_type AS url,
          CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS INTEGER) AS status_code,
          CAST(FLOOR(value * 10) AS BIGINT) AS response_size
        FROM events ORDER BY event_id""",
    "q21_json_extract" ->
      """SELECT k % 10 AS k_bucket, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
          MIN(k) AS min_k, MAX(k) AS max_k
        FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events) t
        WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""",
    "q22_normalize" ->
      """SELECT event_id, epoch_us(ts) AS time_us,
          'channel_' || CAST(user_id % 4 AS VARCHAR) AS channel,
          CASE WHEN isnan(value) THEN 0.0 ELSE value END AS value_clean,
          event_type AS kind, 'events.parquet' AS source_file
        FROM events ORDER BY event_id""",
    "q23_dedup_exact" ->
      """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
          MIN(doc_id) AS keeper_doc_id
        FROM documents GROUP BY 1 ORDER BY 1""",
    "q24_dedup_ngram_jaccard" ->
      s"""WITH $nearDupCtes
        SELECT doc_a, doc_b, n_common, jaccard FROM scored_pairs
        WHERE jaccard >= 0.1 ORDER BY doc_a, doc_b""",
    "q27_dedup_embedding" ->
      """WITH q AS (
          SELECT vec_id, label,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, label, v,
            sqrt(CAST(list_sum(list_transform(range(1, 65), i -> v[i]*v[i])) AS DOUBLE)) AS nrm
          FROM q)
        SELECT vec_a, vec_b, label, cosine FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
            CAST(list_sum(list_transform(range(1, 65), i -> a.v[i]*b.v[i])) AS DOUBLE)
              / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id) t
        WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""",
    "q28_cosine_topk" ->
      """WITH q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
            sqrt(CAST(list_sum(list_transform(range(1, 65), i -> v[i]*v[i])) AS DOUBLE)) AS nrm
          FROM q),
        queries AS (
          SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n
          WHERE vec_id < 10),
        scored AS (
          SELECT query_id, vec_id,
            CAST(list_sum(list_transform(range(1, 65), i -> v[i]*qv[i])) AS DOUBLE)
              / (nrm * qnrm) AS cosine
          FROM n, queries WHERE vec_id != query_id)
        SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) AS rank
          FROM scored) t
        WHERE rank <= 5 ORDER BY query_id, rank""",
    "q30_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
        FROM (
          SELECT lang,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents) t
        GROUP BY 1 ORDER BY 1""",
    "q31_quality_score" ->
      """SELECT doc_id, n_chars_actual, n_tokens,
          punct_count * 1.0 / n_chars_actual AS punct_ratio,
          stop_count * 1.0 / n_tokens AS stop_ratio,
          n_chars_actual * 1.0 / n_tokens AS avg_token_len,
          (stop_count * 1.0 / n_tokens) * 0.5
            + (1.0 - punct_count * 1.0 / n_chars_actual) * 0.3
            + CASE WHEN n_chars_actual * 1.0 / n_tokens BETWEEN 3.0 AND 8.0
                   THEN 0.2 ELSE 0.0 END AS quality
        FROM (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_actual,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
            CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_count
          FROM documents) t
        ORDER BY doc_id""",
    "q32_lang_id" ->
      """WITH hits AS (
          SELECT lang,
            CAST(len(list_filter(w, t -> t IN ('the','a','and','of','is'))) AS BIGINT) AS en_hits,
            CAST(len(list_filter(w, t -> t IN ('el','la','de','que','y'))) AS BIGINT) AS es_hits,
            CAST(len(list_filter(w, t -> t IN ('le','la','et','les','des'))) AS BIGINT) AS fr_hits,
            CAST(len(list_filter(w, t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS de_hits
          FROM (SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
                FROM documents) t)
        SELECT lang,
          CASE WHEN en_hits >= greatest(es_hits, fr_hits, de_hits) AND en_hits > 0 THEN 'en'
               WHEN es_hits >= greatest(fr_hits, de_hits) AND es_hits > 0 THEN 'es'
               WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
               WHEN de_hits > 0 THEN 'de'
               ELSE 'unknown' END AS predicted,
          COUNT(*) AS n
        FROM hits GROUP BY 1, 2 ORDER BY 1, 2""",
    "q33_fingerprint" ->
      """SELECT doc_id,
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_norm,
          list_min(list_transform(
            list_transform(range(1, len(w)-1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
            s -> md5(s))) AS fp_min_shingle
        FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
              FROM documents) t
        ORDER BY doc_id""",
    "q35_streaming_rollup" ->
      s"""SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS window_start,
          event_type, COUNT(*) AS n, ${X.dsum("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q36_session_window" ->
      // NOTE >= (not >): Spark's session_window treats sessions as
      // half-open [start, last+gap), so an event at exactly last+gap
      // starts a NEW session
      s"""WITH flagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id, value,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events) t),
        sessions AS (
          SELECT user_id, ts, value,
                 SUM(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events, ${X.dsum("value")} AS session_value
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_start""",
    "q37_kafka_roundtrip" ->
      """SELECT event_id, epoch_us(ts) AS timestamp, event_type AS kind,
          value, 'events' AS source
        FROM events ORDER BY event_id""",
    "q38_data_quality" ->
      """SELECT n_rows, n_users, n_null_props, n_nan_values, n_errors,
          n_errors * 1.0 / n_rows AS error_rate
        FROM (
          SELECT COUNT(*) AS n_rows,
            COUNT(DISTINCT user_id) AS n_users,
            CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
            CAST(SUM(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_values,
            CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
          FROM events) t""",
    "q39_percentiles" ->
      """SELECT event_type,
          quantile_cont(value, 0.25) AS p25,
          quantile_cont(value, 0.5) AS p50,
          quantile_cont(value, 0.75) AS p75,
          quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY 1 ORDER BY 1""",
    "q40_shipping_priority" ->
      """SELECT l_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q41_pii_scrub" ->
      """WITH c AS (
          SELECT event_id,
            'reach user' || user_id || ' at u' || user_id ||
            '@example.com or 555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
            ' re ' || event_type AS contact
          FROM events)
        SELECT event_id,
          CAST(len(regexp_split_to_array(contact,
            '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS BIGINT) AS n_emails,
          CAST(len(regexp_split_to_array(contact,
            '\b555-[0-9]{4}\b')) - 1 AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(contact,
            '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
        FROM c ORDER BY event_id""",
    "q42_repetition" ->
      """WITH sh AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(w)-1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents) t
          WHERE len(w) >= 3),
        cnt AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY 1, 2)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
          MAX(c) AS max_repeat, MAX(c) * 1.0 / SUM(c) AS repetition_ratio
        FROM cnt GROUP BY 1 ORDER BY 1""",
    "q43_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS n, ${X.dsum("value")} AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""",
    "q46_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
          CAST(SUM(q) AS BIGINT) AS sum_q, COUNT(*) AS n,
          CAST(SUM(q) AS BIGINT) * 1.0 / 1000.0 / COUNT(*) AS mean
        FROM (
          SELECT label,
            unnest(list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS q,
            generate_subscripts(embedding, 1) AS i
          FROM embeddings) t
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q47_new_high_alerts" ->
      """SELECT user_id, ts_us, value, prev_max FROM (
          SELECT user_id, epoch_us(ts) AS ts_us, value,
            COALESCE(MAX(value) OVER (PARTITION BY user_id
              ORDER BY ts, value
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              CAST('-infinity' AS DOUBLE)) AS prev_max
          FROM events) t
        WHERE value > prev_max ORDER BY user_id, ts_us, value""",
    "q48_asof_join" ->
      """WITH o AS (
          SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
          FROM orders GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, e.ts, o.o_orderdate, o.o_orderkey
        FROM events e ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        ORDER BY e.event_id""",
    "q49_range_join" ->
      """SELECT a.user_id AS user_id, a.event_id AS event_a,
          b.event_id AS event_b, epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
         AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN -300000000 AND 300000000
        ORDER BY user_id, event_a, event_b""",
    "q51_cube" ->
      // GROUPING() (not IS NULL) so a data NULL in a grouping column
      // can never masquerade as a subtotal row
      s"""SELECT CAST(GROUPING(day) * 2 + GROUPING(event_type) AS BIGINT) AS gid,
          day, event_type, COUNT(*) AS n, ${X.dsum("value")} AS sum_value
        FROM (SELECT date_trunc('day', ts) AS day, event_type, value FROM events) t
        GROUP BY CUBE (day, event_type)
        ORDER BY gid, day NULLS FIRST, event_type NULLS FIRST""",
    "q52_unpivot" ->
      // unpivot-then-GROUP-BY, NOT one global aggregate per measure:
      // on an EMPTY lineitem a per-branch global COUNT(*) emits one
      // row per branch (3 rows, n=0) where Spark's unpivot+groupBy
      // emits none — a live semantic divergence the round-12 fuzz
      // sweep caught on its single-row corpus (seed s2). The melted
      // form has the operator's own shape, so empty input agrees.
      s"""SELECT measure, COUNT(*) AS n, ${X.dsum("val")} AS total FROM (
          SELECT 'l_discount' AS measure, l_discount AS val FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT 'l_quantity', l_quantity FROM lineitem) t
        GROUP BY measure
        ORDER BY measure""",
    "q53_time_weighted_avg" ->
      """WITH x AS (
          SELECT user_id, value,
            LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - epoch_us(ts) AS dur
          FROM events),
        g AS (
          SELECT user_id,
            CAST(SUM(CAST(round(value * 100) AS BIGINT) * dur) AS BIGINT) AS weighted_cents,
            CAST(SUM(dur) AS BIGINT) AS total_dur,
            COUNT(*) AS n_intervals
          FROM x WHERE dur IS NOT NULL GROUP BY 1)
        SELECT user_id, n_intervals, total_dur,
          weighted_cents / 100.0 / total_dur AS twa
        FROM g ORDER BY user_id""",
    "q54_weighted_mean" ->
      """SELECT event_type,
          CAST(CAST(SUM(CAST(round(value * 100) AS BIGINT) * (user_id + 1)) AS BIGINT) AS DOUBLE)
            / 100.0
            / CAST(CAST(SUM(user_id + 1) AS BIGINT) AS DOUBLE) AS wmean,
          COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""",
    "q55_sql_interface" -> sqlInterfaceQuery,
    "q56_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        ORDER BY o_orderkey""",
    "q57_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""",
    "q58_set_ops" ->
      """SELECT 'click_and_purchase' AS cohort, user_id FROM (
          SELECT user_id FROM events WHERE event_type = 'click'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'purchase') a
        UNION ALL
        SELECT 'click_no_purchase' AS cohort, user_id FROM (
          SELECT user_id FROM events WHERE event_type = 'click'
          EXCEPT
          SELECT user_id FROM events WHERE event_type = 'purchase') b
        ORDER BY cohort, user_id""",
    "q59_local_supplier_volume" ->
      """SELECT r_name, n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          COUNT(*) AS n_lines
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q60_moving_average" ->
      """WITH daily AS (
          SELECT date_trunc('day', o_orderdate) AS day,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
            COUNT(*) AS n_orders
          FROM orders GROUP BY 1)
        SELECT day, n_orders, cents / 100.0 AS revenue,
          (CAST(SUM(cents) OVER w AS BIGINT) / 100.0)
            / CAST(SUM(n_orders) OVER w AS BIGINT) AS ma7
        FROM daily
        WINDOW w AS (ORDER BY epoch_us(day)
          RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW)
        ORDER BY day""",
    "q61_histogram" ->
      // LEAST(.., 21)/GREATEST(.., 0): width_bucket clamps BOTH tails
      // to single overflow buckets — over-range → count+1 (caught at
      // sf0.1 where values exceed [0,500)), under-range → 0 (no
      // negative values in testdata today, but an unclamped FLOOR
      // would silently diverge the day they appear)
      """SELECT CAST(GREATEST(LEAST(FLOOR(value / 25.0) + 1, 21), 0) AS BIGINT) AS bin,
          COUNT(*) AS n, MIN(value) AS bin_min, MAX(value) AS bin_max
        FROM events GROUP BY 1 ORDER BY 1""",
    "q62_rollup" ->
      s"""SELECT CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
          r_name, n_name, COUNT(*) AS n_orders,
          ${X.dsum("o_totalprice")} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""",
    "q63_fuzzy_join" ->
      """SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
          a.p_brand AS p_brand,
          CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY part_a, part_b""",
    // q64_approx_aggregates: rows-only by design (HLL++/quantile-sketch
    // contents are engine-specific); error bounded vs the exact twins
    // q07/q39 in CoreQueriesSpec.
    "q44_catalog_meta" ->
      // DuckDB's information_schema over the same views, with its type
      // names mapped onto Spark simpleString names. CatalogMeta reports
      // the ON-DISK type (a catalog describes storage): events.ts is
      // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
      // reads as timestamp_ntz and DuckDB as TIMESTAMP — the generic
      // TIMESTAMP→'timestamp_ntz' arm below covers it.
      """WITH counts AS (
          SELECT 'region' AS t, COUNT(*) AS n FROM region
          UNION ALL SELECT 'nation', COUNT(*) FROM nation
          UNION ALL SELECT 'customer', COUNT(*) FROM customer
          UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
          UNION ALL SELECT 'part', COUNT(*) FROM part
          UNION ALL SELECT 'orders', COUNT(*) FROM orders
          UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
          UNION ALL SELECT 'events', COUNT(*) FROM events
          UNION ALL SELECT 'documents', COUNT(*) FROM documents
          UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings)
        SELECT c.table_name, CAST(c.ordinal_position - 1 AS INTEGER) AS ordinal,
          c.column_name,
          CASE WHEN c.data_type = 'BIGINT' THEN 'bigint'
               WHEN c.data_type = 'INTEGER' THEN 'int'
               WHEN c.data_type = 'DOUBLE' THEN 'double'
               WHEN c.data_type = 'VARCHAR' THEN 'string'
               WHEN c.data_type = 'FLOAT[]' THEN 'array<float>'
               WHEN c.data_type = 'TIMESTAMP' THEN 'timestamp_ntz'
               ELSE lower(c.data_type) END AS data_type,
          cnt.n AS n_rows
        FROM information_schema.columns c
        JOIN counts cnt ON cnt.t = c.table_name
        ORDER BY c.table_name, ordinal""",
    "q65_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY 1""",
    "q66_dup_clusters" ->
      s"""WITH RECURSIVE $nearDupCtes, $clusterCtes
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               c.doc_id = c.cluster_id AS is_keeper
        FROM cc c JOIN cs s ON c.cluster_id = s.cluster_id
        ORDER BY c.doc_id""",
    "q67_stratified_sample" ->
      """SELECT doc_id, lang, sample_key FROM (
          SELECT doc_id, lang,
            substring(md5('smpl' || CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key,
            CASE lang WHEN 'en' THEN '8000' WHEN 'es' THEN '4000'
                      WHEN 'zh' THEN '4000' WHEN 'de' THEN '2000'
                      WHEN 'fr' THEN '2000' ELSE '0000' END AS threshold
          FROM documents) t
        WHERE sample_key < threshold ORDER BY doc_id""",
    "q68_grouping_sets" ->
      """SELECT CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
          source, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((source), (lang), (source, lang))
        ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""",
    "q69_spend_deciles" ->
      """WITH spend AS (
          SELECT o_custkey,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
            COUNT(*) AS n_orders
          FROM orders GROUP BY 1)
        SELECT o_custkey, cents / 100.0 AS total_spend, n_orders,
          CAST(ntile(10) OVER w AS INTEGER) AS decile,
          percent_rank() OVER w AS pct_rank
        FROM spend
        WINDOW w AS (ORDER BY cents DESC, o_custkey)
        ORDER BY o_custkey""",
    "q70_term_freq" ->
      """WITH t AS (
          SELECT lang,
            unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          FROM documents),
        c AS (SELECT lang, term, COUNT(*) AS n FROM t GROUP BY 1, 2)
        SELECT lang, term, n, CAST(rank AS INTEGER) AS rank FROM (
          SELECT lang, term, n,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank
          FROM c) x
        WHERE rank <= 10 ORDER BY lang, rank""",
    "q71_funnel" ->
      """WITH first_from AS (
          SELECT user_id, MIN(epoch_us(ts)) AS first_from_us FROM events
          WHERE event_type = 'click' GROUP BY 1),
        conv AS (
          SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_to_us
          FROM events e JOIN first_from f ON e.user_id = f.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(e.ts) >= f.first_from_us
            AND epoch_us(e.ts) <= f.first_from_us + 3600000000
          GROUP BY 1)
        SELECT f.user_id, f.first_from_us, c.first_to_us,
          c.first_to_us - f.first_from_us AS delta_us,
          c.first_to_us IS NOT NULL AS converted
        FROM first_from f LEFT JOIN conv c ON f.user_id = c.user_id
        ORDER BY f.user_id""",
    "q72_retention_cohort" ->
      """WITH days AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        coh AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
        SELECT cohort_day,
          CAST(date_diff('day', cohort_day, day) AS INTEGER) AS offset_days,
          COUNT(*) AS n_users
        FROM days d JOIN coh c ON d.user_id = c.user_id
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q73_kmeans_step" ->
      """WITH q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        cents AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 8),
        scored AS (
          SELECT q.vec_id, q.v, c.cid,
            CAST(list_sum(list_transform(range(1, 65),
              i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, v, cid FROM (
            SELECT vec_id, v, cid,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM scored) t WHERE rn = 1),
        expl AS (
          SELECT cid, unnest(v) AS qv, generate_subscripts(v, 1) AS i
          FROM assigned)
        SELECT cid, CAST(i - 1 AS INTEGER) AS dim,
          CAST(SUM(qv) AS BIGINT) AS sum_q, COUNT(*) AS n,
          CAST(SUM(qv) AS BIGINT) * 1.0 / 1000.0 / COUNT(*) AS new_mean
        FROM expl GROUP BY 1, 2 ORDER BY 1, 2""",
    "q74_bm25_rank" ->
      // expression structure mirrors TextAnalysis.bm25Rank exactly
      // (same association order) — float ops are order-sensitive and
      // both engines must walk the identical tree; all constants are
      // dyadic rationals (exact doubles)
      """WITH toks AS (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
          FROM documents),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS dl,
            CAST(SUM(CASE WHEN t = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS tf_data,
            CAST(SUM(CASE WHEN t = 'query' THEN 1 ELSE 0 END) AS BIGINT) AS tf_query,
            CAST(SUM(CASE WHEN t = 'spark' THEN 1 ELSE 0 END) AS BIGINT) AS tf_spark
          FROM toks GROUP BY 1),
        stats AS (
          SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
            CAST(SUM(CASE WHEN tf_data > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_data,
            CAST(SUM(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_query,
            CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark
          FROM per_doc),
        scored AS (
          SELECT doc_id, dl,
            (n_docs - df_data + 0.5) / (df_data + 0.5)
              * (CAST(tf_data AS DOUBLE) * 2.25)
              / (tf_data + 1.25 * (0.25 + 0.75 * dl / avgdl))
            + (n_docs - df_query + 0.5) / (df_query + 0.5)
              * (CAST(tf_query AS DOUBLE) * 2.25)
              / (tf_query + 1.25 * (0.25 + 0.75 * dl / avgdl))
            + (n_docs - df_spark + 0.5) / (df_spark + 0.5)
              * (CAST(tf_spark AS DOUBLE) * 2.25)
              / (tf_spark + 1.25 * (0.25 + 0.75 * dl / avgdl)) AS score
          FROM (SELECT p.*, s.*, CAST(s.sum_dl AS DOUBLE) / s.n_docs AS avgdl
                FROM per_doc p CROSS JOIN stats s) x)
        SELECT doc_id, dl, score, CAST(rank AS INTEGER) AS rank FROM (
          SELECT doc_id, dl, score,
            ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM scored) r
        WHERE rank <= 20 ORDER BY rank""",
    "q75_merge_upsert" ->
      """WITH base AS (
          SELECT o_orderkey, o_orderstatus,
            CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
            'B' AS op
          FROM orders),
        corrections AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
            price_cents + 500 AS price_cents, 'U' AS op
          FROM base WHERE o_orderkey % 100 < 10),
        arrivals AS (
          SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM base) + 1 AS o_orderkey,
            'N' AS o_orderstatus, price_cents, 'N' AS op
          FROM base WHERE o_orderkey % 100 >= 95),
        updates AS (
          SELECT * FROM corrections UNION ALL SELECT * FROM arrivals)
        SELECT o_orderkey, o_orderstatus, price_cents, op FROM updates
        UNION ALL
        SELECT b.o_orderkey, b.o_orderstatus, b.price_cents, b.op FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = b.o_orderkey)
        ORDER BY o_orderkey""",
    "q76_min_cost_supplier" ->
      """WITH mp AS (
          SELECT l_partkey, MIN(l_extendedprice) AS min_price
          FROM lineitem GROUP BY 1),
        winner AS (
          SELECT l.l_partkey, mp.min_price, MIN(l.l_suppkey) AS s_suppkey
          FROM lineitem l
          JOIN mp ON l.l_partkey = mp.l_partkey
                 AND l.l_extendedprice = mp.min_price
          GROUP BY 1, 2)
        SELECT p_partkey, p_name, min_price, w.s_suppkey, s_name
        FROM winner w
        JOIN part ON l_partkey = p_partkey
        JOIN supplier s ON w.s_suppkey = s.s_suppkey
        ORDER BY p_partkey""",
    "q77_event_type_profile" ->
      """SELECT user_id,
          string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
          COUNT(DISTINCT event_type) AS n_types,
          COUNT(*) AS n_events
        FROM events GROUP BY 1 ORDER BY 1""",
    "q78_hopping_windows" ->
      s"""WITH w AS (
          SELECT unnest([
              make_timestamp((epoch_us(ts) // 300000000) * 300000000),
              make_timestamp((epoch_us(ts) // 300000000) * 300000000
                - 300000000)]) AS window_start,
            event_type, value
          FROM events)
        SELECT window_start, event_type, COUNT(*) AS n,
          ${X.dsum("value")} AS sum_value
        FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "q79_value_spread" ->
      """SELECT event_id, event_type, value,
          LAG(value) OVER w AS prev_value,
          LEAD(value) OVER w AS next_value,
          cume_dist() OVER w AS cume
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        ORDER BY event_type, value, event_id""",
    "q80_above_customer_avg" ->
      """WITH per AS (
          SELECT o_custkey AS ck,
            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
            COUNT(*) AS n_orders
          FROM orders GROUP BY 1)
        SELECT o_orderkey, o_custkey, o_totalprice,
          sum_cents / 100.0 / n_orders AS cust_avg
        FROM orders JOIN per ON o_custkey = ck
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) * n_orders > sum_cents
        ORDER BY o_orderkey""",
    "q81_scd2_priority" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority,
          epoch_us(o_orderdate) AS valid_from_us,
          LEAD(epoch_us(o_orderdate)) OVER w AS valid_to_us,
          LEAD(epoch_us(o_orderdate)) OVER w IS NULL AS is_current
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
          ORDER BY epoch_us(o_orderdate), o_orderkey)
        ORDER BY o_custkey, valid_from_us, o_orderkey""",
    "q82_training_mix" ->
      // composed gate: quality formula from q31, keeper from q23,
      // stratum hash gate from q67 — same proven parity pieces
      """WITH q AS (
          SELECT doc_id,
            (stop_count * 1.0 / n_tokens) * 0.5
              + (1.0 - punct_count * 1.0 / n_chars_actual) * 0.3
              + CASE WHEN n_chars_actual * 1.0 / n_tokens BETWEEN 3.0 AND 8.0
                     THEN 0.2 ELSE 0.0 END AS quality
          FROM (
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars_actual,
              CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
              CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_count
            FROM documents) t),
        k AS (SELECT md5(text) AS h, MIN(doc_id) AS keeper
              FROM documents GROUP BY 1),
        d AS (SELECT doc_id, lang, md5(text) AS h FROM documents)
        SELECT d.doc_id, d.lang, q.quality
        FROM d JOIN k ON d.h = k.h JOIN q ON d.doc_id = q.doc_id
        WHERE d.doc_id = k.keeper AND d.lang != 'zh' AND q.quality >= 0.3
          AND substring(md5('smpl' || CAST(d.doc_id AS VARCHAR)), 1, 4) <
              CASE d.lang WHEN 'en' THEN '8000' WHEN 'es' THEN '4000'
                          WHEN 'zh' THEN '4000' WHEN 'de' THEN '2000'
                          WHEN 'fr' THEN '2000' ELSE '0000' END
        ORDER BY d.doc_id""",
    "q83_prefix_shards" ->
      """WITH toks AS (
          SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
              0) AS cum_before
          FROM toks)
        SELECT doc_id, n_tokens, cum_before, cum_before // 50000 AS shard
        FROM c ORDER BY doc_id""",
    "q84_normalize_embeddings" ->
      """WITH q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        n AS (
          SELECT vec_id, v,
            sqrt(CAST(list_sum(list_transform(range(1, 65), i -> v[i]*v[i])) AS DOUBLE)) AS nrm
          FROM q)
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
          CAST(qv AS DOUBLE) / nrm AS unit
        FROM (SELECT vec_id, nrm, unnest(v) AS qv,
                generate_subscripts(v, 1) AS i FROM n) t
        ORDER BY vec_id, dim""",
    "q85_frame_sample" ->
      """WITH f AS (
          SELECT doc_id, text,
            unnest(range(0, ((length(text) - 1) // 64) + 1, 4)) AS frame_idx
          FROM documents WHERE length(text) > 0)
        SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS INTEGER) AS frame_len,
          md5(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_md5
        FROM f ORDER BY doc_id, frame_idx""",
    "q86_resize_pool" ->
      """WITH ch AS (
          SELECT doc_id, length(text) AS len,
            unnest(range(0, length(text))) AS pos, text
          FROM documents WHERE length(text) > 0),
        v AS (
          SELECT doc_id, (pos * 16) // len AS bucket,
            ord(substring(text, CAST(pos + 1 AS INTEGER), 1)) AS b
          FROM ch)
        SELECT doc_id, bucket,
          CAST(SUM(b) AS BIGINT) AS sum_b, COUNT(*) AS n,
          CAST(SUM(b) AS BIGINT) * 1.0 / COUNT(*) AS mean_b
        FROM v GROUP BY 1, 2 ORDER BY 1, 2""",
    "q87_incremental_rollup" ->
      // the single-pass form: merging per-batch partials must equal it
      // bit-for-bit (exact-integer algebraic aggregates)
      """SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events GROUP BY 1 ORDER BY 1""",
    "q88_salted_join" ->
      // the direct join — the salted physical plan must produce the
      // identical result set
      """SELECT event_id, user_id, c_mktsegment, value
        FROM events JOIN customer ON user_id = c_custkey
        ORDER BY event_id""",
    "q89_bpeish_tokens" ->
      // RE2 (DuckDB's regex engine) has no lookahead, so the BPE-ish
      // split is expressed by its counting identity instead:
      // n_bpe = whitespace tokens + punctuation marks (each mark
      // starts a new piece under the lookahead split)
      """WITH c AS (
          SELECT event_id,
            'reach user' || user_id || ' at u' || user_id ||
            '@example.com or 555-' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
            ' re ' || event_type AS contact
          FROM events)
        SELECT event_id,
          CAST(len(regexp_split_to_array(trim(contact), '\s+')) AS INTEGER) AS n_ws,
          CAST(len(regexp_split_to_array(trim(contact), '\s+'))
            + length(contact)
            - length(regexp_replace(contact, '[.,;:!?]', '', 'g')) AS INTEGER) AS n_bpe
        FROM c ORDER BY event_id""",
    "q90_gap_fill" ->
      """WITH per_min AS (
          SELECT event_type, date_trunc('minute', ts) AS minute,
            COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, MIN(minute) AS mn, MAX(minute) AS mx
          FROM per_min GROUP BY 1),
        spine AS (
          SELECT event_type,
            unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute
          FROM bounds)
        SELECT s.event_type, s.minute, p.n,
          last_value(p.n IGNORE NULLS) OVER (
            PARTITION BY s.event_type ORDER BY s.minute
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled,
          p.n IS NOT NULL AS observed
        FROM spine s LEFT JOIN per_min p USING (event_type, minute)
        ORDER BY s.event_type, s.minute""",
    "q91_bpe_pair_freq" ->
      """WITH t AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
          FROM documents),
        p AS (
          SELECT unnest(list_transform(range(1, length(t)),
            i -> substr(t, i, 2))) AS pair
          FROM t WHERE length(t) >= 2)
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p
        GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""",
    "q92_contamination" ->
      """WITH toks AS (
          SELECT doc_id, source,
            regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        esh AS (
          SELECT DISTINCT unnest(list_transform(range(1, len(w)-6),
            i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
              ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS s
          FROM toks WHERE doc_id % 97 = 0 AND len(w) >= 8),
        tsh AS (
          SELECT DISTINCT doc_id, source,
            unnest(list_transform(range(1, len(w)-6),
            i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
              ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS s
          FROM toks WHERE doc_id % 97 != 0 AND len(w) >= 8),
        cont AS (
          SELECT DISTINCT doc_id, source FROM tsh
          WHERE s IN (SELECT s FROM esh)),
        base AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents WHERE doc_id % 97 != 0 GROUP BY 1)
        SELECT b.source AS source, b.n_docs,
          CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated
        FROM base b LEFT JOIN
          (SELECT source, COUNT(*) AS n FROM cont GROUP BY 1) c
          USING (source)
        ORDER BY source""",
    "q93_quality_rules" ->
      """WITH tok AS (
          SELECT doc_id, lang, source,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS t
          FROM documents),
        tf AS (
          SELECT doc_id, lang, source, t, COUNT(*) AS tf
          FROM tok GROUP BY 1, 2, 3, 4),
        per_doc AS (
          SELECT doc_id, lang, source,
            CAST(SUM(tf) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_distinct,
            CAST(MAX(tf) AS BIGINT) AS max_tf,
            CAST(SUM(tf * length(t)) AS BIGINT) AS n_letters,
            CAST(SUM(CASE WHEN t IN ('the','a','and','of','to','in','is')
              THEN tf ELSE 0 END) AS BIGINT) AS n_stop
          FROM tf GROUP BY 1, 2, 3),
        flags AS (
          SELECT lang, source,
            (n_tokens NOT BETWEEN 20 AND 1000) AS fail_len,
            (n_letters < n_tokens * 3 OR n_letters > n_tokens * 10)
              AS fail_mwl,
            (n_stop < 2) AS fail_stop,
            (max_tf * 4 > n_tokens) AS fail_rep,
            (n_distinct * 8 < n_tokens) AS fail_div
          FROM per_doc)
        SELECT lang, source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN fail_len THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fail_len,
          CAST(SUM(CASE WHEN fail_mwl THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fail_mwl,
          CAST(SUM(CASE WHEN fail_stop THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fail_stop,
          CAST(SUM(CASE WHEN fail_rep THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fail_rep,
          CAST(SUM(CASE WHEN fail_div THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fail_div,
          CAST(SUM(CASE WHEN NOT (fail_len OR fail_mwl OR fail_stop
            OR fail_rep OR fail_div) THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pass
        FROM flags GROUP BY 1, 2 ORDER BY 1, 2""",
    "q94_source_mixture" ->
      """WITH base AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
              AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        wt AS (
          SELECT source, n_docs, n_tokens,
            CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)
              AS weight
          FROM base)
        SELECT source, n_docs, n_tokens, weight,
          CAST((weight * 1000000)
            // CAST((SELECT SUM(weight) FROM wt) AS BIGINT) AS BIGINT)
            AS p_ppm
        FROM wt ORDER BY source""",
    "q95_context_pack" ->
      """WITH toks AS (
          SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
              AS n_tokens
          FROM documents),
        cum AS (
          SELECT doc_id, n_tokens,
            CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
          FROM toks),
        spans AS (
          SELECT doc_id, n_tokens, cum_before,
            unnest(generate_series(cum_before // 512,
              (cum_before + n_tokens - 1) // 512)) AS window_id
          FROM cum WHERE n_tokens > 0)
        SELECT doc_id, window_id,
          GREATEST(0, window_id * 512 - cum_before) AS tok_start,
          LEAST(n_tokens, (window_id + 1) * 512 - cum_before)
            - GREATEST(0, window_id * 512 - cum_before) AS tok_len
        FROM spans ORDER BY window_id, doc_id""",
    "q96_inverted_index" ->
      """WITH tok AS (
          SELECT doc_id,
            unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          FROM documents),
        tf AS (
          SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        stats AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
            CAST(SUM(tf) AS BIGINT) AS tf_total
          FROM tf GROUP BY 1),
        capped AS (
          SELECT term, doc_id FROM (
            SELECT term, doc_id,
              ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
            FROM tf) t WHERE rn <= 16),
        post AS (
          SELECT term,
            array_to_string(list_sort(list(doc_id)), ',') AS postings
          FROM capped GROUP BY 1)
        SELECT s.term AS term, s.df, s.tf_total, p.postings
        FROM stats s JOIN post p USING (term)
        ORDER BY term""",
    // k=8 rolling token windows; md5 window fingerprints shared by >=2
    // docs mark duplicated spans (mirrors Dedup.substringDedup)
    "q98_substring_dedup" ->
      """WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        wins AS (
          SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
            i -> md5(array_to_string(w[i:i+7], ' ')))) AS fp
          FROM toks WHERE len(w) >= 8),
        pfd AS (
          SELECT fp, doc_id, COUNT(*) AS cnt FROM wins GROUP BY 1, 2),
        fps AS (
          SELECT fp, COUNT(*) AS ndocs FROM pfd GROUP BY 1)
        SELECT doc_id,
          CAST(SUM(cnt) AS BIGINT) AS n_windows,
          CAST(SUM(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
            AS dup_windows
        FROM pfd JOIN fps USING (fp)
        GROUP BY doc_id ORDER BY doc_id""",
    // add-one-smoothed integer ppm ratio of en-slice df vs corpus df
    // over per-doc distinct bigrams (mirrors Sampling.dsirWeights)
    "q99_dsir_importance" ->
      """WITH toks AS (
          SELECT doc_id, lang,
            regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        big0 AS (
          SELECT DISTINCT doc_id, lang,
            unnest(list_transform(range(1, len(w)),
              i -> w[i] || ' ' || w[i+1])) AS b
          FROM toks WHERE len(w) >= 2),
        big AS (
          SELECT * FROM big0 WHERE trim(b) <> ''),
        ratios AS (
          SELECT b,
            (1000000 * (SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1))
              // (COUNT(*) + 1) AS ppm
          FROM big GROUP BY 1)
        SELECT doc_id,
          CAST(SUM(ppm) AS BIGINT) AS score,
          CAST(COUNT(*) AS BIGINT) AS n_feats
        FROM big JOIN ratios USING (b)
        GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 50""",
    // composed quality-gate → exact-dedup → decontaminate funnel
    // (mirrors Sampling.curationManifest: quality formula = q31's,
    // dedup keeper = conditional min over md5(text), contamination =
    // q92's word-8-gram eval overlap)
    "q101_curation_e2e" ->
      """WITH t AS (
          SELECT doc_id, source, md5(text) AS h,
            CAST(length(text) AS BIGINT) AS n_chars_actual,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
            CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              tk -> tk IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_count
          FROM documents WHERE doc_id % 97 != 0),
        q AS (
          SELECT doc_id, source, h, n_tokens,
            ((stop_count * 1.0 / n_tokens) * 0.5
              + (1.0 - punct_count * 1.0 / n_chars_actual) * 0.3
              + CASE WHEN n_chars_actual * 1.0 / n_tokens BETWEEN 3.0 AND 8.0
                     THEN 0.2 ELSE 0.0 END) >= 0.5 AS q_ok
          FROM t),
        k AS (
          SELECT *, q_ok AND doc_id =
              min(CASE WHEN q_ok THEN doc_id END) OVER (PARTITION BY h)
            AS keep_dedup
          FROM q),
        toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        esh AS (
          SELECT DISTINCT unnest(list_transform(range(1, len(w)-6),
            i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
              ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS s
          FROM toks WHERE doc_id % 97 = 0 AND len(w) >= 8),
        cont AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w)-6),
              i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS s
            FROM toks WHERE doc_id % 97 != 0 AND len(w) >= 8) x
          WHERE s IN (SELECT s FROM esh)),
        f AS (
          SELECT k.*, k.keep_dedup AND c.doc_id IS NULL AS keep_clean
          FROM k LEFT JOIN cont c USING (doc_id))
        SELECT source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
          CAST(SUM(CASE WHEN keep_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
          CAST(SUM(CASE WHEN keep_clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
          CAST(SUM(CASE WHEN keep_clean THEN n_tokens ELSE 0 END) AS BIGINT) AS total_tokens
        FROM f GROUP BY source ORDER BY source""",
    // z-order layout manifest (mirrors Layout.zorderLayout: 8-bit
    // min/max scaling, Morton interleave, top-6-bit file buckets,
    // per-bucket pruning ranges); integer arithmetic end to end
    "q103_zorder_layout" ->
      """WITH s AS (
          SELECT min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
            min(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))) AS min_day,
            max(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))) AS max_day
          FROM orders),
        b AS (
          SELECT o_custkey,
            date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day,
            ((o_custkey - min_ck) * 256) // (max_ck - min_ck + 1) AS xb,
            ((date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) - min_day) * 256)
              // (max_day - min_day + 1) AS yb
          FROM orders, s),
        z AS (
          SELECT o_custkey, day,
            CAST(list_sum(list_transform(range(0, 8), i ->
              (((xb >> i) & 1) << (2*i)) + (((yb >> i) & 1) << (2*i+1)))) AS BIGINT) AS zv
          FROM b)
        SELECT zv >> 10 AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
          min(day) AS day_min, max(day) AS day_max
        FROM z GROUP BY 1 ORDER BY bucket""",
    // per-vector symmetric int8 quantization (mirrors
    // Similarity.quantizeInt8); round-half-up via floor(.+0.5) so the
    // double tree is identical in both engines, scale emitted for
    // reconstruction
    "q104_quantize_int8" ->
      """WITH m AS (
          SELECT vec_id, embedding,
            greatest(list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS maxabs
          FROM embeddings)
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
          CAST(FLOOR(CAST(x AS DOUBLE) / maxabs * 127 + 0.5) AS BIGINT) AS code,
          maxabs
        FROM (SELECT vec_id, maxabs, unnest(embedding) AS x,
                generate_subscripts(embedding, 1) AS i FROM m) t
        ORDER BY vec_id, dim""",
    // bloom incremental-dedup screen (mirrors Dedup.bloomScreen:
    // m = 16*|corpus| bits, k=4 positions from md5 hex slices, 63-bit
    // packed words, per-doc all-bits-present verdict + exact audit)
    "q105_bloom_screen" ->
      """WITH corpus AS (
          SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 < 9),
        batch AS (
          SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 5 = 4),
        sz AS (SELECT 16 * count(*) AS m FROM corpus),
        cpos AS (
          SELECT DISTINCT CAST('0x' || substr(h, 8*j + 1, 8) AS BIGINT) % m AS pos
          FROM corpus, (SELECT unnest(range(0, 4)) AS j), sz),
        words AS (
          SELECT pos // 63 AS word,
            bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
          FROM cpos GROUP BY 1),
        bpos AS (
          SELECT doc_id, source, h,
            CAST('0x' || substr(h, 8*j + 1, 8) AS BIGINT) % m AS pos
          FROM batch, (SELECT unnest(range(0, 4)) AS j), sz),
        probe AS (
          SELECT b.doc_id, b.source, b.h,
            (CASE WHEN (coalesce(w.bits, 0) &
                (CAST(1 AS BIGINT) << CAST(b.pos % 63 AS INTEGER))) <> 0
              THEN 0 ELSE 1 END) AS miss
          FROM bpos b LEFT JOIN words w ON (b.pos // 63) = w.word),
        verdict AS (
          SELECT doc_id, source, h, (sum(miss) = 0) AS flagged
          FROM probe GROUP BY 1, 2, 3),
        truth AS (SELECT DISTINCT h FROM corpus)
        SELECT v.doc_id, v.source, v.flagged, (t.h IS NOT NULL) AS is_dup
        FROM verdict v LEFT JOIN truth t ON v.h = t.h
        ORDER BY v.doc_id""",
    // cell-blocked embedding near-dup: q73's seeded argmin-d2
    // assignment (ROW_NUMBER over (d2, cid) = min(struct(d2, cid)))
    // as the blocking key, then q27's pairing kernel within cells
    "q106_dedup_embedding_cells" ->
      s"""WITH $seededCellCtes
        SELECT vec_a, vec_b, cell, cosine FROM (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid AS cell,
            CAST(list_sum(list_transform(range(1, 65), i -> a.v[i]*b.v[i])) AS DOUBLE)
              / (a.nrm * b.nrm) AS cosine
          FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id) t
        WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""",
    // SemDeDup pruning: q106's cell assignment, keeper = no
    // smaller-id cell-mate with cosine >= tau
    "q107_semdedup_prune" ->
      s"""WITH $seededCellCtes,
        dominated AS (
          SELECT DISTINCT b.vec_id FROM n a JOIN n b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.v[i]*b.v[i])) AS DOUBLE)
              / (a.nrm * b.nrm) >= 0.4)
        SELECT n.vec_id, n.cid AS cell FROM n
        ANTI JOIN dominated d ON n.vec_id = d.vec_id
        ORDER BY n.vec_id""",
    // whitespace-collapse + trim + NFC; the explicit ASCII whitespace
    // class keeps Java-regex and RE2 semantics identical
    "q109_text_normalize" ->
      """SELECT doc_id,
          nfc_normalize(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS norm_text,
          (nfc_normalize(trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) != text) AS changed
        FROM documents ORDER BY doc_id""",
    // two-pass heavy hitters: the Misra-Gries candidate pass is a
    // strict superset of everything above the n/128 gate (capacity
    // 256 > denom 128), so the exact-recount output equals plain
    // GROUP BY / HAVING — all-integer, hash-exact
    "q113_heavy_hitters" ->
      """WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          FROM documents),
        t AS (SELECT w FROM toks WHERE w <> ''),
        tot AS (SELECT COUNT(*) AS n_tokens FROM t)
        SELECT w AS term, COUNT(*) AS n, n_tokens
        FROM t CROSS JOIN tot
        GROUP BY 1, 3
        HAVING COUNT(*) * 128 > n_tokens
        ORDER BY n DESC, term""",
    // bigram-LM fluency: every probability is integer math + ONE
    // double division; the per-doc sum folds the position-sorted
    // probability list so both engines add identical doubles in
    // identical order (mirrors sort_array(collect_list) + aggregate)
    "q112_lm_fluency" ->
      """WITH toks AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
              x -> x <> '') AS arr
          FROM documents),
        t2 AS (SELECT doc_id, arr FROM toks WHERE len(arr) > 0),
        bi AS (
          SELECT doc_id, arr, generate_subscripts(arr, 1) AS i,
            unnest(arr) AS w
          FROM t2),
        bi2 AS (
          SELECT doc_id, i - 1 AS pos, w,
            CASE WHEN i = 1 THEN '<s>' ELSE arr[i - 1] END AS prev
          FROM bi),
        c2 AS (SELECT prev, w, COUNT(*) AS c2 FROM bi2 GROUP BY 1, 2),
        c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        voc AS (SELECT COUNT(DISTINCT w) AS vsz FROM c2),
        scored AS (
          SELECT b.doc_id, b.pos,
            CAST(c.c2 + 1 AS DOUBLE) / CAST(p.c1 + v.vsz AS DOUBLE) AS p
          FROM bi2 b
          JOIN c2 c ON b.prev = c.prev AND b.w = c.w
          JOIN c1 p ON b.prev = p.prev
          CROSS JOIN voc v),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_bigrams,
            list_reduce(
              list_transform(
                list_sort(list(struct_pack(i := pos, x := p))), s -> s.x),
              (a, b) -> a + b) AS ssum
          FROM scored GROUP BY 1)
        SELECT doc_id, n_bigrams, ssum / CAST(n_bigrams AS DOUBLE) AS avg_p
        FROM agg ORDER BY doc_id""",
    // JL projection: the ±1 sign matrix is interpolated from the SAME
    // seeded generator the Spark side inlines (Similarity.jlSigns),
    // so both engines multiply identical integers
    "q114_random_projection" -> {
      val values = operators.Similarity.jlSigns().zipWithIndex.flatMap {
        case (row, j) =>
          row.zipWithIndex.map { case (s, i0) => s"($j,${i0 + 1},$s)" }
      }.mkString(",")
      s"""WITH q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings),
        expl AS (
          SELECT vec_id, generate_subscripts(v, 1) AS i, unnest(v) AS qv
          FROM q),
        s(j, i, sgn) AS (VALUES $values)
        SELECT e.vec_id, s.j AS out_dim, CAST(SUM(s.sgn * e.qv) AS BIGINT) AS proj
        FROM expl e JOIN s ON e.i = s.i
        GROUP BY 1, 2 ORDER BY 1, 2"""
    },
    // greedy k-center replay: same seed (lowest vec_id), same argmax
    // min-d2 pick with (md DESC, vec_id) tie-break; d2 via the
    // dot-product identity a·a - 2a·b + b·b (exact — all values are
    // integer-valued doubles far below 2^53)
    "q115_kcenter_sample" ->
      """WITH RECURSIVE q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings WHERE len(embedding) > 0),
        sel(iter, chosen, picked, md) AS (
          (SELECT 1, [vec_id], vec_id, CAST(0 AS BIGINT) FROM q
           ORDER BY vec_id LIMIT 1)
          UNION ALL
          SELECT s.iter + 1, list_append(s.chosen, w.vec_id), w.vec_id, w.md
          FROM sel s, LATERAL (
            SELECT e.vec_id,
              (SELECT MIN(CAST(list_dot_product(e.v, e.v)
                  - 2 * list_dot_product(e.v, c.v)
                  + list_dot_product(c.v, c.v) AS BIGINT))
               FROM q c WHERE list_contains(s.chosen, c.vec_id)) AS md
            FROM q e WHERE NOT list_contains(s.chosen, e.vec_id)
            ORDER BY md DESC, e.vec_id LIMIT 1) w
          WHERE s.iter < 8)
        SELECT iter AS round, picked AS vec_id, md AS maxmin_d2
        FROM sel ORDER BY round""",
    // sliding-window chunker: same start-list construction (stride
    // multiples ∪ the n-C tail anchor), same slicing, same join-with-
    // space reassembly
    "q118_chunk_windows" ->
      s"""WITH t AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
              x -> x <> '') AS toks
          FROM documents),
        t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        st AS (
          SELECT doc_id, toks, n,
            list_sort(list_distinct(list_append(
              range(0, greatest(n - ${TextAnalysis.ChunkLen}, 0) + 1,
                ${TextAnalysis.ChunkStride}),
              greatest(n - ${TextAnalysis.ChunkLen}, 0)))) AS starts
          FROM t2),
        ex AS (
          SELECT doc_id, toks, n,
            CAST(generate_subscripts(starts, 1) - 1 AS INTEGER) AS chunk_id,
            unnest(starts) AS s
          FROM st)
        SELECT doc_id, chunk_id, s AS start,
          least(${TextAnalysis.ChunkLen}, n - s) AS chunk_len,
          array_to_string(
            list_slice(toks, s + 1, s + ${TextAnalysis.ChunkLen}),
            ' ') AS chunk_text
        FROM ex ORDER BY doc_id, chunk_id""",
    // cell manifest: q106's argmin-assignment SQL, aggregated to
    // per-cell occupancy + residual stats (range(1,65) overshoots
    // shorter vectors harmlessly — list_sum ignores the null tail,
    // matching zip_with over the real width)
    "q119_cell_manifest" ->
      """WITH q AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
          FROM embeddings WHERE len(embedding) > 0),
        cents AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < 32),
        scored AS (
          SELECT q.vec_id, c.cid,
            CAST(list_sum(list_transform(range(1, 65),
              i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i]))) AS BIGINT) AS d2
          FROM q CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, cid, d2 FROM (
            SELECT *, ROW_NUMBER() OVER
              (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM scored) t WHERE rn = 1)
        SELECT cid, COUNT(*) AS n_vectors,
          CAST(SUM(d2) AS BIGINT) AS sum_d2, MAX(d2) AS max_d2
        FROM assigned GROUP BY 1 ORDER BY 1""",
    // keep-first span dedup: non-overlapping 5-token spans, each span
    // survives only at its globally-first (doc_id, pos); docs rebuilt
    // from surviving spans in order (mirrors Dedup.lineDedup)
    "q122_line_dedup" ->
      """WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        flat AS (
          SELECT doc_id, sp.pos AS pos, sp.s AS s FROM (
            SELECT doc_id, unnest(list_transform(
              range(0, CAST(ceil(len(w) / 5.0) AS BIGINT)),
              p -> struct_pack(pos := p,
                s := array_to_string(w[p*5+1:p*5+5], ' ')))) AS sp
            FROM toks WHERE len(w) >= 1) t),
        kept AS (
          SELECT doc_id, pos, s FROM (
            SELECT doc_id, pos, s, ROW_NUMBER() OVER
              (PARTITION BY s ORDER BY doc_id, pos) AS rn
            FROM flat) t WHERE rn = 1),
        agg AS (
          SELECT doc_id, COUNT(*) AS kept_spans,
            string_agg(s, ' ' ORDER BY pos) AS dedup_text
          FROM kept GROUP BY 1)
        SELECT t.doc_id,
          CAST(ceil(len(t.w) / 5.0) AS BIGINT) AS n_spans,
          CAST(COALESCE(a.kept_spans, 0) AS BIGINT) AS kept_spans,
          COALESCE(a.dedup_text, '') AS dedup_text
        FROM toks t LEFT JOIN agg a USING (doc_id)
        ORDER BY t.doc_id""",
    // q66's connected components + q31's quality: keep the single
    // best-quality doc per duplicate cluster, min doc_id on ties
    // (mirrors Dedup.dedupKeepBest)
    "q123_dedup_keep_best" ->
      s"""WITH RECURSIVE $nearDupCtes, $clusterCtes,
        qual AS (
          SELECT doc_id,
            (stop_count * 1.0 / n_tokens) * 0.5
              + (1.0 - punct_count * 1.0 / n_chars_actual) * 0.3
              + CASE WHEN n_chars_actual * 1.0 / n_tokens BETWEEN 3.0 AND 8.0
                     THEN 0.2 ELSE 0.0 END AS quality
          FROM (
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars_actual,
              CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
              CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_count,
              CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_count
            FROM documents) t)
        SELECT c.doc_id, c.cluster_id, s.cluster_size, q.quality,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_id
            ORDER BY q.quality DESC, c.doc_id) = 1 AS keep
        FROM cc c JOIN cs s ON c.cluster_id = s.cluster_id
        JOIN qual q ON q.doc_id = c.doc_id
        ORDER BY c.doc_id""",
    // rolling 8-token windows; every occurrence after the globally
    // first (doc_id, pos) covers its 8 tokens; covered tokens cut and
    // docs rebuilt from the survivors (mirrors Dedup.exactSubstrRemoval)
    "q124_exact_substring_removal" -> exactSubstrSql,
    // the INCREMENTAL path (q128) is provably identical to one-shot
    // q124 on ordered batches — same oracle verbatim; a divergence
    // between the two paths shows up as a q128-only hash mismatch
    "q128_exact_substring_incremental" -> exactSubstrSql,
  )

  private val exactSubstrSql: String =
      """WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
        wins AS (
          SELECT doc_id, wp.pos AS pos, wp.fp AS fp FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
              i -> struct_pack(pos := i,
                fp := md5(array_to_string(w[i:i+7], ' '))))) AS wp
            FROM toks WHERE len(w) >= 8) t),
        dups AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos, ROW_NUMBER() OVER
              (PARTITION BY fp ORDER BY doc_id, pos) AS rn
            FROM wins) t WHERE rn > 1),
        idx AS (
          SELECT doc_id, unnest(range(1, len(w) + 1)) AS ti FROM toks),
        cov AS (
          SELECT DISTINCT i.doc_id, i.ti FROM idx i JOIN dups d
            ON i.doc_id = d.doc_id
            AND i.ti >= d.pos AND i.ti <= d.pos + 7),
        kept AS (
          SELECT i.doc_id, i.ti FROM idx i LEFT JOIN cov c
            ON i.doc_id = c.doc_id AND i.ti = c.ti
          WHERE c.ti IS NULL),
        agg AS (
          SELECT k.doc_id, COUNT(*) AS n_kept,
            string_agg(t.w[CAST(k.ti AS INT)], ' ' ORDER BY k.ti) AS clean_text
          FROM kept k JOIN toks t USING (doc_id) GROUP BY 1)
        SELECT t.doc_id,
          CAST(len(t.w) AS BIGINT) AS n_tokens,
          CAST(len(t.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS removed_tokens,
          COALESCE(a.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN agg a USING (doc_id)
        ORDER BY t.doc_id"""
}
