package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** Deduplication suite for training-data pipelines — SURVEY.md §2
  * block D: exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: every candidate-pair generator is *blocked* (hash
  * key, LSH band, simhash band, label) — the only joins are equi-joins
  * on block keys, so candidate generation shuffles once on the block
  * key and never materializes the O(n²) pair space.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest. One shuffle on the
    * digest; at 100 TB this is the cheapest possible full-corpus dedup
    * (digest is 16 bytes/row on the wire, not the document).
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5($"text").as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_doc_id"))
      .orderBy($"content_hash")

  /** Exact word-shingle Jaccard near-dup pairs: per-doc distinct
    * shingle-hash sets in one scan (set size rides along, so no
    * separate sizes join), explode, equi-join on the 8-byte hash
    * (candidates must share ≥1 shingle), count intersections,
    * |A∩B| / |A∪B|, threshold.
    *
    * Joining on xxhash64(shingle) instead of the shingle string keeps
    * the shuffle payload at 8 bytes/key — at 100 TB the shuffle is the
    * bottleneck, not the hash (collision odds over 2^64 are
    * negligible for any realistic corpus).
    */
  /** Default stop-shingle document-frequency cap for [[ngramJaccard]]:
    * far above any DF in the testdata (output provably unchanged
    * there), low enough that one viral boilerplate shingle shared by
    * millions of documents cannot create a quadratic candidate blob.
    */
  val MaxShingleDf: Long = 100000L

  def ngramJaccard(documents: DataFrame, n: Int = 3, tau: Double = 0.1,
                   maxShingleDf: Long = MaxShingleDf): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    // the hashed-shingle frame is materialized ONCE (localCheckpoint)
    // and reused by the DF-cap aggregate and both self-join sides —
    // round 7's probe showed the un-persisted form re-reading and
    // re-tokenizing documents 4× (the DF-cap lineage and each join
    // side re-derived it; ReusedExchange only collapsed the two join
    // sides). The frame is corpus-scale but ~⅛ the text bytes (8-byte
    // hashes, no text column), and tokenize+shingle+hash is the CPU
    // hot spot — at 100 TB one pass + executor-local reread beats
    // two full tokenize passes.
    // (no Par.fan here: the shingle build is ~0.1 s of the query; the
    // pair join dominates, and the fan's extra exchange + AQE stage
    // was measured to COST q24 ~1 s in planning/fixed overhead)
    val sets = documents
      .withColumn("w", TextAnalysis.tokens($"text"))
      .select(
        $"doc_id",
        array_distinct(TextAnalysis.hashedShinglesOf($"w", n)).as("hs"))
      .withColumn("n_sh", size($"hs"))
      .localCheckpoint(true)
    val exploded = sets.select($"doc_id", $"n_sh", explode($"hs").as("h"))
    // stop-shingle cap: the candidate join fans out quadratically in
    // each shingle's document frequency, so one shingle shared by M
    // docs yields M²/2 pairs — a single viral boilerplate line would
    // dominate the whole shuffle at 100 TB. Shingles above the DF cap
    // are dropped from CANDIDATE GENERATION only; set sizes n_sh keep
    // the full set, so Jaccard is exact for pairs sharing no hot
    // shingle, while a pair that DOES share one is scored on its
    // non-hot overlap only (n_common shrinks, n_sh doesn't) — an
    // underestimate that can drop such a pair below tau. That recall
    // trade is standard: a pair held together mainly by ultra-common
    // shingles is not a near-dup signal. The DF aggregate map-side
    // combines to 8-byte keys; the hot set is tiny by construction, so
    // the anti-join broadcasts. (A count-over-h window formulation
    // would reuse the join's exchange but pays an in-partition sort of
    // every exploded shingle row — measured 1.5× slower than this
    // aggregate + broadcast anti-join at sf0.1.)
    val hot = exploded.groupBy($"h")
      .agg(count(lit(1)).as("df"))
      .filter($"df" > maxShingleDf)
      .select($"h")
    // shuffle_hash: both sides of the self-join shuffle identically on
    // h, so ReusedExchange computes the shingle sets ONCE (a broadcast
    // plan would rebuild them for the build side; measured 3x)
    // (r20 probed, not shipped: pinning this exchange to core-count
    // partitions — AQE's byte-based coalescing runs the ~2 s-CPU pair
    // stage on 6 tasks — A/B'd inside the ±0.3 s noise band of a
    // loaded box twice; kept the AQE default rather than claim an
    // unevidenced win.)
    val sh = exploded.join(broadcast(hot), Seq("h"), "left_anti")
      .hint("shuffle_hash")
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
        first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
      .withColumn("jaccard",
        $"n_common" * 1.0 / ($"n_a" + $"n_b" - $"n_common"))
      .filter($"jaccard" >= tau)
      .select($"doc_a", $"doc_b", $"n_common", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Number of MinHash functions and LSH banding. The declared q25
    * runs 32 hashes in 16 bands × 2 rows (catches J≈0.1+ candidates on
    * the synthetic corpus and keeps its output contract stable); the
    * production configuration is 128 hashes in 64 bands × 2 rows —
    * same τ operating point ((1/b)^(1/r) = (1/64)^(1/2) ≈ 0.125) with
    * 4× lower estimator variance, so est_jaccard is tight enough to
    * threshold on. Both are spec-verified against exact Jaccard
    * (DedupSimilaritySpec); signature cost scales linearly in k and
    * the banded join stays an equi-join at any k.
    */
  val MinHashK = 32
  val Bands = 16
  val ProdMinHashK = 128
  val ProdBands = 64

  /** MinHash signatures: k independent hash functions (the shingle
    * hash rehashed with the function index as seed, min per document)
    * via explode + 32 min-aggregates.
    *
    * Measured note: the "shuffle-free" per-row alternative
    * (`array_min(transform(hs, h -> xxhash64(i, h)))` × k) is 3×
    * slower here — higher-order functions evaluate interpreted while
    * explode + min-agg stays inside whole-stage codegen. The explode
    * shuffle is map-side combined (partial min), so only k longs per
    * doc cross the wire — fine at any scale.
    */
  def minhashSignatures(documents: DataFrame, n: Int = 3,
                        k: Int = MinHashK): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val sh = documents
      .withColumn("w", TextAnalysis.tokens($"text"))
      .select($"doc_id",
        explode(array_distinct(TextAnalysis.hashedShinglesOf($"w", n))).as("h"))
    val sigCols = (0 until k).map { i =>
      min(xxhash64(lit(i), $"h")).as(s"m$i")
    }
    sh.groupBy($"doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select($"doc_id", array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash + LSH candidate pairs with estimated Jaccard (fraction of
    * matching signature components). Join is blocked on (band,
    * band-hash) — candidate generation never compares all pairs.
    */
  def minhashLsh(documents: DataFrame, n: Int = 3, tauEst: Double = 0.1,
                 k: Int = MinHashK, bands: Int = Bands): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rowsPerBand = k / bands
    // the signature frame (k longs per doc — the artifact a minhash
    // pipeline materializes anyway) is checkpointed so the two
    // band-join sides read it instead of each re-running the full
    // tokenize+shingle+minhash lineage over the corpus
    val sigs = minhashSignatures(documents, n, k).localCheckpoint(true)
    val banded = sigs.select($"doc_id", $"sig",
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_key",
        xxhash64($"band", slice($"sig", $"band" * rowsPerBand + 1, lit(rowsPerBand))))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .withColumn("est_jaccard",
        size(filter(zip_with($"sig_a", $"sig_b", (x, y) => x === y), b => b))
          * 1.0 / k)
      .filter($"est_jaccard" >= tauEst)
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** 64-bit SimHash per document: per-bit majority vote over token
    * hashes. 64 conditional sums in one aggregation pass (all
    * codegen'd); no shuffle beyond the doc_id groupBy.
    */
  def simhash(documents: DataFrame): DataFrame = {
    val tok = documents
      .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("t"))
      .withColumn("h", xxhash64($"t"))
    val bitVotes = (0 until 64).map { i =>
      sum(when(shiftright($"h", i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val voted = tok.groupBy($"doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val hashExpr = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    voted.select($"doc_id", hashExpr.as("simhash"))
  }

  /** Shared hamming-band pairing kernel: block a (doc_id, <hash>)
    * frame on 4 × 16-bit bands of the 64-bit hash (two hashes within
    * hamming distance 3 must agree on ≥1 band — pigeonhole), then
    * verify candidates with the exact popcount of the XOR. Candidate
    * generation is an equi-join on (band, band_val), never all pairs.
    *
    * `maxBandDf` is the hot-bucket guard (the [[MaxShingleDf]] move
    * applied to bands): a DEGENERATE band — one whose value is shared
    * corpus-wide, e.g. the all-zero band a uniform image region or an
    * all-stopword simhash tail produces — would put the whole corpus
    * in one bucket and turn the join quadratic. Band buckets above
    * the cap are dropped from candidate generation only; the
    * documented recall trade is a pair whose ≤`maxHamming` differing
    * bits hit every NON-hot band it shares (a pair held together only
    * by a signal-free uniform band), while any pair agreeing on one
    * discriminative band — every planted near-dup spec — is
    * unaffected.
    */
  private[graft] def hammingBandPairs(hashes: DataFrame, hashCol: String,
      maxHamming: Int, maxBandDf: Long = Long.MaxValue): DataFrame = {
    val banded = hashes.select($"doc_id", col(hashCol).as("h"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val", expr("(h >> (band * 16)) & 65535"))
    val kept =
      if (maxBandDf == Long.MaxValue) banded
      else {
        // the hot set is tiny by construction (≤ 4·n/maxBandDf
        // buckets), so the anti-join broadcasts
        val hot = banded.groupBy($"band", $"band_val")
          .agg(count(lit(1)).as("df"))
          .filter($"df" > maxBandDf)
          .select($"band", $"band_val")
        banded.join(broadcast(hot), Seq("band", "band_val"), "left_anti")
      }
    val cands = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .withColumn("hamming", bit_count($"h_a".bitwiseXOR($"h_b")))
      .filter($"hamming" <= maxHamming)
      .select($"doc_a", $"doc_b", $"hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[hammingBandPairs]] for MULTI-ROW-PER-DOC hash tables (r19, the
    * tiled-pHash pairing): with a tile family per doc, the pair's
    * verdict is the MINIMUM hamming over every variant combination
    * the bands surface — the single-row kernel's arbitrary
    * dropDuplicates pick could discard the one tile pair that
    * matches. Same banding, same hot-bucket DF cap; the dedup key
    * widens to (pair, h_a, h_b) so distinct variant combos survive to
    * the min.
    */
  private[graft] def hammingBandPairsMulti(hashes: DataFrame,
      hashCol: String, maxHamming: Int,
      maxBandDf: Long = Long.MaxValue): DataFrame = {
    val banded = hashes.select($"doc_id", col(hashCol).as("h"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val", expr("(h >> (band * 16)) & 65535"))
    val kept =
      if (maxBandDf == Long.MaxValue) banded
      else {
        val hot = banded.groupBy($"band", $"band_val")
          .agg(count(lit(1)).as("df"))
          .filter($"df" > maxBandDf)
          .select($"band", $"band_val")
        banded.join(broadcast(hot), Seq("band", "band_val"), "left_anti")
      }
    val cands = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .dropDuplicates("doc_a", "doc_b", "h_a", "h_b")
    cands
      .withColumn("hamming", bit_count($"h_a".bitwiseXOR($"h_b")))
      .groupBy($"doc_a", $"doc_b")
      .agg(min($"hamming").as("hamming"))
      .filter($"hamming" <= maxHamming)
      .orderBy($"doc_a", $"doc_b")
  }

  /** SimHash near-dup pairs: block on 4 × 16-bit bands (two docs
    * within hamming distance 3 must agree on ≥1 band), then verify
    * with exact popcount of the XOR.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(simhash(documents), "simhash", maxHamming)

  /** Duplicate-cluster assignment: connected components over the union
    * of exact-dup edges (same content digest) and near-dup edges
    * ([[ngramJaccard]] pairs), so transitive chains A≈B≈C collapse to
    * one cluster with one keeper — the step that turns pairwise dedup
    * signals into an actual retention decision.
    *
    * Algorithm: iterative min-label propagation. Every node starts as
    * its own label; each round takes the min label over itself and
    * its neighbors. Labels decrease monotonically, so the sum of all
    * labels is a convergence certificate: unchanged sum ⇒ fixed point
    * (no per-row diff join needed). Rounds needed = component
    * diameter; dup clusters are shallow (stars/chains of a few docs),
    * so this converges in 2-4 rounds. At 100 TB with adversarially
    * long chains, swap the loop body for the large-star/small-star
    * operators (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — same per-round join shape, O(log² n) rounds.
    * The loop runs on RDDs held by [[DriverLoop]]; see
    * [[dupClustersFrom]].
    */
  def dupClusters(documents: DataFrame, n: Int = 3, tau: Double = 0.1,
                  maxIters: Int = 20): DataFrame =
    dupClustersFrom(documents,
      ngramJaccard(documents, n, tau).select($"doc_a", $"doc_b"), maxIters)

  /** Connected components over an arbitrary near-dup edge frame
    * (doc_a, doc_b) UNIONED with the exact-dup edges — the pluggable
    * core behind [[dupClusters]] (exact n-gram Jaccard edges) and
    * [[dupClustersLsh]] (MinHash-LSH edges, the 100-TB signal). Same
    * min-label propagation, certificate, and output contract.
    */
  private[graft] def dupClustersFrom(documents: DataFrame, near: DataFrame,
                                     maxIters: Int = 20): DataFrame = {
    val hashes = documents.select($"doc_id", md5($"text").as("h"))
    val keepers = hashes.groupBy($"h").agg(min($"doc_id").as("root"))
    val exactEdges = hashes.join(keepers, Seq("h"))
      .filter($"doc_id" =!= $"root")
      .select($"root".as("doc_a"), $"doc_id".as("doc_b"))
    val edges = near.select($"doc_a", $"doc_b").union(exactEdges).distinct()
    // The rounds run outside Catalyst: planning a join + aggregate +
    // certificate query per round cost more than the round's work.
    // Both loop RDDs share one HashPartitioner, so the per-round
    // neighbor-min join is NARROW on both sides: edges cross the wire
    // once, at setup, and the only per-round shuffle is the
    // (v, min-label) reduce. Each round is ONE job (the certificate
    // sum materializes the new labels). The certificate is an EXACT
    // BigInt sum: a long sum could overflow at 100 TB id ranges, and
    // a wrapped sum could fake a fixed point. DedupSimilaritySpec pins
    // the rows against the DataFrame formulation of the same loop.
    val spark = documents.sparkSession
    val undDf = edges.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(edges.select($"doc_b".as("u"), $"doc_a".as("v")))
    val seedDf = documents.select($"doc_id".as("node"), $"doc_id".as("label"))
    val undSrc = undDf.rdd.map(r => (r.getLong(0), r.getLong(1)))
    // loop-state partition count comes from the AQE-coalesced edge
    // frame itself (scale-adaptive: tiny locally, grows with the
    // corpus) — a core-count floor here was measured 3-5× slower,
    // pure per-task fixed cost on sub-MB partitions
    val nParts = math.max(1, undSrc.getNumPartitions)
    val part = new org.apache.spark.HashPartitioner(nParts)
    def labelSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.mapPartitions { it =>
        var s = BigInt(0); it.foreach(kv => s += kv._2); Iterator.single(s)
      }.fold(BigInt(0))(_ + _)
    val labelsDf = DriverLoop { loop =>
      val und = loop.hold(undSrc.partitionBy(part))
      var labels = loop.hold(
        seedDf.rdd.map(r => (r.getLong(0), r.getLong(1))).partitionBy(part))
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val nbrMin = und.join(labels)
          .map { case (_, (v, lbl)) => (v, lbl) }
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        val next = labels.leftOuterJoin(nbrMin)
          .mapValues { case (l, o) => math.min(l, o.getOrElse(l)) }
        val s = loop.replace(labels, next)(labelSum)
        labels = next
        converged = s == prevSum
        prevSum = s
        iter += 1
      }
      require(converged, s"label propagation did not converge in $maxIters rounds")
      // only the UNSORTED label pairs are checkpointed (narrow, no
      // sort) so the loop RDDs can be released; the sizes join and
      // the output ORDER BY stay LAZY — a consumer that immediately
      // re-joins the clusters (q123/q127/q129 keep-best) lets
      // Catalyst eliminate the sort instead of paying an eager
      // materialization of it
      spark.createDataFrame(
        labels.map { case (n, l) => org.apache.spark.sql.Row(n, l) },
        org.apache.spark.sql.types.StructType.fromDDL("node BIGINT, label BIGINT"))
        .localCheckpoint(true)
    }
    val sizes = labelsDf.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labelsDf.join(sizes, Seq("label"))
      .select($"node".as("doc_id"), $"label".as("cluster_id"),
        $"cluster_size", ($"node" === $"label").as("is_keeper"))
      .orderBy($"doc_id")
  }

  /** Embedding-cosine near-dup pairs, blocked on the STORED `label`
    * column. Candidate space is quadratic in label occupancy, so this
    * form is only as scale-safe as the codebook that produced the
    * labels: a label set that does not grow with the corpus (the
    * round-11 probe measured pairs ×copies² on exactly that axis)
    * concentrates the corpus into ever-fatter blocks. The
    * occupancy-bounded form is [[embeddingNearDupCells]] — same
    * pairing kernel, blocking key re-derived from a coarse quantizer
    * whose cell count scales with the corpus.
    */
  def embeddingNearDup(embeddings: DataFrame, tau: Double = 0.4): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val q = embeddings.select($"vec_id", $"label",
      Vec.quantize($"embedding").as("v"))
    val n = q.withColumn("nrm", Vec.normQ($"v"))
    n.as("a").join(n.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"),
        (Vec.dotQ(col("a.v"), col("b.v")).cast("double") /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter($"cosine" >= tau)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Embedding-cosine near-dup pairs blocked on COARSE-QUANTIZER
    * cells (q106) — the occupancy-bounded form of [[embeddingNearDup]]
    * and the 100-TB plan its scaladoc used to carry as prose. The
    * blocking key is each vector's nearest centroid
    * ([[Similarity.assignCells]], the q73 assignment step) instead of
    * a stored label, so block occupancy is a knob the operator owns:
    * size the centroid frame ∝ corpus (constant target occupancy) and
    * the in-cell pair space — Σ_cells occ²/2 — grows linearly with
    * the data while the label-blocked form grows quadratically
    * (both measured in ScaleTechniquesSpec at the 10× point). Recall
    * is the trade: a pair split across a cell boundary is missed
    * (spec-measured against the label-blocked pairs at the operating
    * τ); production recovers boundary pairs the IVF way — assign to
    * the nProbe nearest cells instead of 1 — at nProbe× candidate
    * cost, same plan shape.
    *
    * `centroids` is a (cid, cv) frame: [[Similarity.seedCentroids]]
    * for the k-means init, or [[Similarity.centroidsOf]] of a trained
    * [[Similarity.kmeansStep]] round for real IVF cells. It is
    * broadcast by the assignment, so the corpus is scanned once per
    * self-join side and shuffled only on the cell key.
    */
  def embeddingNearDupCells(embeddings: DataFrame, centroids: DataFrame,
                            tau: Double = 0.4): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val q = embeddings.select($"vec_id", Vec.quantize($"embedding").as("v"))
    val n = Similarity.assignCells(q, centroids)
      .withColumn("nrm", Vec.normQ($"v"))
    n.as("a").join(n.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.cid").as("cell"),
        (Vec.dotQ(col("a.v"), col("b.v")).cast("double") /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter($"cosine" >= tau)
      .orderBy($"vec_a", $"vec_b")
  }

  /** Multi-probe form of [[embeddingNearDupCells]]: vectors are
    * assigned to their `nProbe` nearest cells
    * ([[Similarity.assignCellsProbed]]), candidates are pairs sharing
    * ANY cell (dropDuplicates before scoring, the minhashLsh
    * convention), so a pair split across one boundary is recovered
    * once both sides probe ≥ 2. Measured at sf0.1 seeded cells,
    * τ=0.4: nProbe=1 finds 140 of the 919 brute-force pairs on 32 k
    * candidates, nProbe=2 finds 318 on 128 k — versus label-blocking's
    * 88 on 200 k. Candidate cost scales ~nProbe², still linear in the
    * corpus at fixed occupancy (ScaleTechniquesSpec pins both curves).
    */
  def embeddingNearDupCellsProbed(embeddings: DataFrame,
                                  centroids: DataFrame, nProbe: Int,
                                  tau: Double = 0.4): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val q = embeddings.select($"vec_id", Vec.quantize($"embedding").as("v"))
    val a = Similarity.assignCellsProbed(q, centroids, nProbe)
      .withColumn("nrm", Vec.normQ($"v"))
    a.as("a").join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.v").as("va"), col("b.v").as("vb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .dropDuplicates("vec_a", "vec_b")
      .select($"vec_a", $"vec_b",
        (Vec.dotQ($"va", $"vb").cast("double") / ($"na" * $"nb")).as("cosine"))
      .filter($"cosine" >= tau)
      .orderBy($"vec_a", $"vec_b")
  }

  /** [[embeddingNearDupCells]] with seed-initialized centroids (the
    * first `nCells` vectors — the q73 init). The tiny centroid frame
    * is checkpointed so each self-join side plans one corpus scan, not
    * corpus + centroid-slice (the q45 precedent). This is the declared
    * q106 shape; a production run passes trained centroids via
    * [[embeddingNearDupCells]] directly.
    */
  def embeddingNearDupSeeded(embeddings: DataFrame, nCells: Int = 32,
                             tau: Double = 0.4): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val q = embeddings.select($"vec_id", Vec.quantize($"embedding").as("v"))
    val cents = Similarity.seedCentroids(q, nCells).localCheckpoint(true)
    embeddingNearDupCells(embeddings, cents, tau)
  }

  /** Semantic-dedup pruning (q107) — the SemDeDup curation move
    * (Abbas et al. 2023, arXiv:2303.09540) on the cell-blocked
    * kernel: KEEP a vector iff no smaller-id vector in its
    * coarse-quantizer cell is cosine-≥ τ similar. "Dominated by a
    * smaller id" (not greedy max-independent-set) is deliberate: the
    * rule is decided per-pair with no sequential dependence, so it is
    * one self-join + one anti-join and every engine computes the same
    * keeper set — a chain A~B~C with A≁C keeps only A, pruning
    * MORE aggressively than greedy (which would re-keep C), the safe
    * direction for a training-mix budget.
    *
    * Plan shape: the corpus is scanned once per self-join side and
    * once for the anti-join probe (embeddings rows are 64 floats —
    * ~300 B — so three scans beat materializing), pairs stay blocked
    * within cells (linear at constant occupancy, the q106 argument),
    * and the anti-join shuffles only the DISTINCT dominated-id set —
    * at most one row per dropped vector, ≤ corpus, no pair
    * amplification past the filter. τ=-1 degenerates to
    * keep-min-id-per-cell (the q23 exact-dedup shape); τ>1 keeps
    * everything.
    */
  def semdedupPrune(embeddings: DataFrame, nCells: Int = 32,
                    tau: Double = 0.4): DataFrame = {
    graft.functions.Registry.ensure(embeddings.sparkSession)
    val q = embeddings.select($"vec_id", Vec.quantize($"embedding").as("v"))
    val cents = Similarity.seedCentroids(q, nCells).localCheckpoint(true)
    val n = Similarity.assignCells(q, cents).withColumn("nrm", Vec.normQ($"v"))
    val dominated = n.as("a").join(n.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter((Vec.dotQ(col("a.v"), col("b.v")).cast("double") /
        (col("a.nrm") * col("b.nrm"))) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    n.join(dominated, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"cid".as("cell"))
      .orderBy($"vec_id")
  }

  /** Exact-substring duplication profile: per document, how many of
    * its rolling k-token windows also appear verbatim in ANOTHER
    * document. This is the screen behind suffix-array-style "remove
    * repeated passages" dedup (boilerplate headers, license blocks,
    * syndicated paragraphs survive doc-level near-dup but light up
    * here): `dup_windows / n_windows` is the doc's duplicated-span
    * fraction, and the window fingerprints that fired identify the
    * spans to cut.
    *
    * Shape: ONE tokenize+window pass (the md5 fingerprint is computed
    * inside the `transform` lambda so the k-token window string never
    * outlives the row), then groupBy (fp, doc_id) and a
    * count-over-Window partitioned by `fp` to attach each
    * fingerprint's doc count — a single lineage, so the expensive
    * explode provably runs once (PlanAuditSpec counts the Generate
    * nodes). A self-join formulation reads nicer but plans TWO
    * explodes: Spark prunes the unused `cnt` from the fp-stats
    * branch, the subtrees stop being identical, and exchange reuse
    * never fires. Exact-dup documents collapse in the (fp, doc_id)
    * partial agg map-side; the Window is partitioned on the
    * high-cardinality fingerprint, so no task sees more than one
    * fingerprint group's pairs.
    *
    * At 100 TB: the window stream is |tokens| rows of (fingerprint,
    * doc_id) — the k× string amplification of naive windowing never
    * hits the shuffle. `hashFingerprints = true` is the production
    * key: xxhash64 of the window (8 bytes through both shuffles and
    * the Window sort) instead of the 32-hex-char md5 (~4.7× less key
    * traffic); identical output barring a 2⁻⁶⁴ collision
    * (spec-asserted equal on the test corpus). The oracle keeps md5 —
    * the only fingerprint DuckDB reproduces byte-for-byte.
    */
  def substringDedup(documents: DataFrame, k: Int = 8,
                     hashFingerprints: Boolean = false): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val mode = if (hashFingerprints) "xx" else "md5"
    val wins = documents
      .withColumn("w", TextAnalysis.tokens($"text"))
      .filter(size($"w") >= k)
      .select($"doc_id", explode(
        call_function("graft_rolling_fp", $"w", lit(k), lit(1), lit(mode)))
        .as("fp"))
    val perFpDoc = wins.groupBy($"fp", $"doc_id")
      .agg(count(lit(1)).as("cnt"))
    perFpDoc
      .withColumn("ndocs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_windows"),
        sum(when($"ndocs" >= 2, $"cnt").otherwise(0L)).as("dup_windows"))
      .orderBy($"doc_id")
  }

  /** Bloom-filter incremental dedup screen (q105) — the
    * new-batch-versus-standing-corpus membership test behind
    * incremental crawl ingestion. A full exact-dedup join re-shuffles
    * the corpus digest set against every daily increment; the bloom
    * inverts that: the corpus is summarized ONCE into an m-bit filter
    * (k=4 md5-derived bit positions per document, m = 16·|corpus|
    * ≈ 0.24% false-positive rate), packed into 63-bit words
    * (`bit_or` over `pos div 63` — bit 63 stays clear of signed-shift
    * overflow in either engine), and each arriving batch probes the
    * word table with an equi-join on word id. No false negatives by
    * construction — every true duplicate is flagged (spec-asserted);
    * false positives are the documented, bounded price.
    *
    * Scale: the word frame is m/63 rows ≈ one long per four
    * documents — 200 MB for a 10⁸-document corpus, which AQE
    * broadcast-joins (probe cost = map-side hash lookup, the batch
    * never shuffles); past broadcast range it degrades to a shuffle
    * on word id, still ∝ k·|batch| + m/63, never ∝ |corpus|. The
    * filter is sized from the corpus count (one eager 1-row count
    * job at build — production uses the catalog's row-count stat).
    * The exact-membership `is_dup` column is the AUDIT side
    * (production runs the bloom passes only and pays the exact join
    * just for flagged docs); it makes the false-positive behavior
    * oracle-checkable.
    *
    * Batch model on the test corpus: `doc_id % 5 = 4` — half
    * re-arrivals of corpus documents (crawler re-fetches, true
    * duplicates), half unseen (`doc_id % 10 = 9`, excluded from the
    * corpus slice).
    */
  def bloomScreen(documents: DataFrame, bitsPerKey: Int = 16,
                  kHashes: Int = 4): DataFrame = {
    val hashed = documents.select($"doc_id", $"source", md5($"text").as("h"))
    val corpus = hashed.filter($"doc_id" % 10 < 9)
    val batch = hashed.filter($"doc_id" % 5 === 4)
    val m: Long = bitsPerKey.toLong * corpus.count()
    def positions(df: DataFrame): DataFrame = df
      .select($"doc_id", $"source", $"h", explode(expr(
        s"transform(sequence(0, ${kHashes - 1}), " +
          s"j -> cast(conv(substr(h, 8*j + 1, 8), 16, 10) as bigint) % ${m}L)"))
        .as("pos"))
      .withColumn("word", expr("pos div 63"))
      .withColumn("mask", expr("shiftleft(cast(1 as bigint), cast(pos % 63 as int))"))
    val words = positions(corpus)
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
    val verdict = positions(batch)
      .join(words, Seq("word"), "left")
      .withColumn("miss",
        when((coalesce($"bits", lit(0L)).bitwiseAND($"mask")) =!= 0, 0L)
          .otherwise(1L))
      .groupBy($"doc_id", $"source", $"h")
      .agg((sum($"miss") === 0).as("flagged"))
    val truth = corpus.select($"h").distinct().withColumn("seen", lit(true))
    verdict.join(truth, Seq("h"), "left")
      .select($"doc_id", $"source", $"flagged",
        coalesce($"seen", lit(false)).as("is_dup"))
      .orderBy($"doc_id")
  }

  /** Span-level exact dedup with text reconstruction (q122) — the
    * CCNet/RefinedWeb "duplicated paragraph removal" stage (Wenzek et
    * al. 2019 §4.1 dedups paragraph hashes; Penedo et al. 2023 drops
    * duplicated lines), adapted to this corpus's newline-free texts by
    * treating each run of `span` consecutive tokens as the paragraph
    * unit. Unlike [[substringDedup]] (q98), which *measures* shared
    * rolling windows, this operator *removes*: every span keeps only
    * its globally-first occurrence (min (doc_id, pos) over the whole
    * corpus — CCNet's keep-first rule made deterministic), and each
    * document is re-assembled from its surviving spans in order.
    *
    * Shape: one tokenize+slice pass explodes each doc into
    * non-overlapping spans — amplification is exactly 1× the token
    * stream (spans tile the text; contrast q98's k× rolling windows).
    * First occurrences come from groupBy(span).agg(min(struct(doc_id,
    * pos))) — an *aggregate*, not a window: boilerplate spans are
    * low-cardinality-heavy BY DESIGN (a nav-bar line can repeat 10⁸
    * times at 100 TB), so partial aggregation crushes the duplicate
    * mass map-side before the shuffle, where a row_number window over
    * the span key would sort the entire hot partition in one task.
    * The join back to the span stream is an equi-join on the span
    * text; its skew (the same hot spans) is the AQE skew-join case —
    * OptimizeSkewedJoin splits the fat partition, which works here
    * precisely because the firsts side is one row per span. Joined
    * spans are MARKED keep/drop rather than filtered, so the one
    * per-doc aggregation yields totals, survivor counts, and the
    * reconstruction together — the whole plan is the two sides of
    * the keep-first self-join (ScanCountGate allowance 2), never a
    * third pass over the text. `hashKeys = true` is the production
    * key (the q98 pattern): the aggregate and the join run on
    * xxhash64(span) — 8 bytes through the shuffle instead of the
    * span string — with identical output barring a 2⁻⁶⁴ collision
    * (spec-asserted equal); the declared query keeps the string key
    * so the oracle reproduces it byte-for-byte.
    *
    * Output: per document, total span count, surviving span count,
    * and the reconstructed text (empty when every span lost — the doc
    * is a pure re-crawl and would be dropped).
    */
  def lineDedup(documents: DataFrame, span: Int = 5,
                hashKeys: Boolean = false): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val spans = Par.fan(documents, $"doc_id")
      .withColumn("w", graft.operators.TextAnalysis.tokens($"text"))
      // NOT an empty-doc exclusion: split(trim(text)) yields [""]
      // (size 1) on an empty/whitespace doc, so such docs flow
      // through as one ""-span that dedups against every other empty
      // doc BY DESIGN (the oracle's len(w) >= 1 matches). What the
      // guard does filter is a NULL text (size = -1), where
      // sequence(0, -1) would descend (r16, ADVICE comment fix).
      .filter(size($"w") >= 1)
      .select($"doc_id", posexplode(
        call_function("graft_rolling_fp", $"w", lit(span), lit(span), lit("str"))))
      .withColumnRenamed("col", "s")
    // hash path adds the 8-byte key NEXT TO the span; string path
    // joins on the span itself (no duplicated payload either way)
    val keyed = if (hashKeys) spans.withColumn("k", xxhash64($"s")) else spans
    val key = if (hashKeys) "k" else "s"
    val firsts = keyed.groupBy(col(key))
      .agg(min(struct($"doc_id", $"pos")).as("first"))
    keyed.join(firsts, Seq(key))
      .withColumn("keep",
        $"doc_id" === $"first.doc_id" && $"pos" === $"first.pos")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"keep", 1L).otherwise(0L)).as("kept_spans"),
        concat_ws(" ", transform(
          filter(array_sort(collect_list(struct($"pos", $"s", $"keep"))),
            e => e("keep")),
          e => e("s"))).as("dedup_text"))
      .orderBy($"doc_id")
  }

  /** Default band-bucket document-frequency cap for [[imageNearDup]]:
    * above any bucket occupancy the sf0.1 corpus produces in a
    * DISCRIMINATIVE band (output provably unchanged there), low
    * enough that the degenerate uniform-region bands — the
    * dot-padding tail of the synthesized image shard puts ~every
    * image's bands 2-3 at the same value — cannot keep the candidate
    * join quadratic as the corpus grows (they are dropped the moment
    * their occupancy crosses the cap, spec-measured at 10×).
    */
  val MaxImageBandDf: Long = 2000L

  /** Image near-duplicate dedup (q125) — perceptual-hash dedup over
    * the DECODED image shard: [[Multimodal.MediaDecoder.dHash]] (a
    * 9×8 luma-gradient difference hash, exactly invariant under
    * uniform brightness shift — re-encode/brighten copies collide at
    * hamming 0) bucketed through the q26 simhash band machinery
    * ([[hammingBandPairs]]). The standard production shape for image
    * corpora: decode once (`mapPartitions`, codec init amortized per
    * partition), keep 8 bytes per image, and pair inside hamming
    * bands — never all pairs.
    *
    * The hash frame is localCheckpointed so the two band-join sides
    * reuse ONE decode pass (the minhashLsh signature precedent) —
    * at 100 TB the decode dominates and must not run twice. The
    * degenerate-band hazard is real here, not theoretical: uniform
    * image regions (borders, letterboxing, the test shard's dot
    * padding) zero out whole bands corpus-wide, so the
    * [[MaxImageBandDf]] cap is what keeps candidates linear — the
    * 10× spec measures the drop engaging.
    */
  def imageNearDup(documents: DataFrame, maxHamming: Int = 3,
                   maxBandDf: Long = MaxImageBandDf): DataFrame = {
    val hashes = Multimodal.imageDHashes(Multimodal.asMultimodal(documents))
      .localCheckpoint(true)
    hammingBandPairs(hashes, "dhash", maxHamming, maxBandDf)
  }

  /** DCT-pHash RENDITION dedup (q133) — [[imageNearDup]] with
    * [[Multimodal.MediaDecoder.pHash]] as the fingerprint, run over
    * the corpus's original + thumbnail asset feed
    * ([[Multimodal.asMultimodalWithThumbs]]): the frequency-domain
    * hash whose nearest-neighbor 32×32 pooling makes an
    * integer-factor NN RESCALE collide at hamming 0 bit-for-bit,
    * while keeping dHash's exact brightness-shift invariance through
    * the integer DC-rejection centering. This is the production
    * question an image store actually asks — "is this upload a
    * rescale of an asset we already hold?" — and the capability gap
    * is MEASURED, not argued: dHash's rescale drift is
    * content-dependent (9 bits on a random-texture pair, less on
    * flat rasters), so on the same feed q125 drops MOST rendition
    * pairs (11/15 at 1×, spec-pinned with a majority floor) while
    * q133 reports every one at exactly hamming 0. Same decode-once
    * localCheckpoint, same [[hammingBandPairs]] blocking, same
    * [[MaxImageBandDf]] hot-bucket guard — a deployment runs both
    * hashes off ONE decode pass and unions the edge signals into
    * [[dupClustersFrom]]; the declared queries keep the signals
    * separate so each pair set stays individually auditable.
    */
  def imageNearDupPhash(documents: DataFrame, maxHamming: Int = 3,
                        maxBandDf: Long = MaxImageBandDf): DataFrame = {
    val hashes = Multimodal.imagePHashes(
        Multimodal.asMultimodalWithThumbs(documents))
      .localCheckpoint(true)
    hammingBandPairs(hashes, "phash", maxHamming, maxBandDf)
  }

  /** CROP-tolerant pHash dedup (q137) — the capability q133's own
    * scaladoc names as its gap, closed: q133's whole-frame pHash
    * survives a RESCALE (the 32×32 pooling grid stretches with the
    * image) but not a CROP, which shifts the grid against the pixels
    * and can flip every bit. Here each image carries the
    * [[Multimodal.MediaDecoder.pHashTiles]] family — whole frame plus
    * nine 75% windows on the eighth grid — and a pair's verdict is
    * the MINIMUM hamming over the variants the bands surface
    * ([[hammingBandPairsMulti]]). A border-trimmed or aspect-ratio-
    * normalized re-upload whose window lands on the grid collides
    * with one tile of its original BIT-FOR-BIT (pHashWindow's pooling
    * exactness); near-grid crops degrade to band-catchable
    * near-collision. Run over [[Multimodal.asMultimodalWithCrops]] —
    * originals plus the deterministic cropped-upload sidecar feed —
    * through the same decode-once localCheckpoint, banded pairing,
    * and hot-bucket DF cap as q125/q133; whole-vs-whole collisions
    * reproduce q133's signal (variant 0 IS that hash), tile hits add
    * the crop edges. At 100 TB the tile family is a constant 10×
    * on 8-byte hash rows — decode still dominates, candidates stay
    * banded, never all-pairs.
    */
  def imageNearDupCrop(documents: DataFrame, maxHamming: Int = 3,
                       maxBandDf: Long = MaxImageBandDf): DataFrame = {
    val hashes = Multimodal.imagePHashTiled(
        Multimodal.asMultimodalWithCrops(documents))
      .localCheckpoint(true)
    hammingBandPairsMulti(hashes, "phash", maxHamming, maxBandDf)
  }

  /** Exact-substring REMOVAL at arbitrary alignment (q124) — the Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499) ExactSubstr semantics that the
    * tile-aligned [[lineDedup]] (q122) cannot express: a duplicated
    * passage OFFSET by one token slips between q122's fixed 5-token
    * tiles and survives removal, while [[substringDedup]] (q98)
    * already *measures* it via rolling windows. This operator closes
    * the loop: every rolling k-token window that also occurs at an
    * earlier (doc_id, pos) — the same globally-first rule as q122,
    * made alignment-free by the rolling step — marks its k tokens as
    * covered; covered positions are cut and the document reassembled
    * from the survivors, so only the corpus-first copy of any
    * duplicated run of ≥ k tokens keeps it.
    *
    * Shape (three corpus passes, ScanCountGate allowance 3 — the q107
    * precedent where passes beat materializing): (1) the rolling
    * window stream (|tokens| rows of (fingerprint, doc_id, pos) —
    * the k× string amplification never leaves the row, q98's trick);
    * (2) first occurrences as groupBy(fp).agg(min(struct(doc_id,
    * pos))) — an AGGREGATE, not a window, because duplicated windows
    * are hot keys by definition (q122's 10⁸-repeat nav-bar argument:
    * partial agg crushes them map-side, and the join back is the AQE
    * skew-join case with a one-row-per-fp build side); duplicated
    * occurrences then collapse to ONE bounded row per document
    * (sorted position array — bounded by the document's own token
    * count, never by corpus growth); (3) the reconstruction joins
    * that per-doc row back to the token arrays on doc_id. The
    * interval union + complement + reassembly is a single O(tokens +
    * dups) fold per document — pure per-row expression work, no
    * shuffle. `hashFingerprints = true` is the production key (q98's
    * rule): xxhash64 windows put 8 bytes through both shuffles
    * instead of 32-hex md5, identical output barring a 2⁻⁶⁴
    * collision; the declared query keeps md5 so the oracle reproduces
    * the grouping byte-for-byte.
    *
    * `k` IS Lee et al.'s minimum duplicated-run length: the
    * covered-interval merge cuts any duplicated run of ≥ k tokens in
    * full, so their production operating point — remove duplicated
    * runs of ≥ 50 tokens (§4.1 of the paper, their 100-byte ≈
    * 50-token threshold) — is simply `k = 50`. The default k=8 is a
    * TESTDATA operating point (the synthetic corpus's planted
    * duplicates are short); on a real web corpus k=8 would cut
    * common idioms and boilerplate phrases that are not crawl
    * duplicates, which is exactly why the paper sets the threshold
    * at 50. Both points are spec-pinned: at k=50 a planted 60-token
    * duplicated run is removed while an 8-token repeated idiom
    * survives (DedupSimilaritySpec).
    *
    * Output: per document, token total, removed-token count, and the
    * cleaned text (the q122 contract; empty when every token was
    * covered — a pure re-crawl).
    */
  def exactSubstrRemoval(documents: DataFrame, k: Int = 8,
                         hashFingerprints: Boolean = false): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    require(k >= 2, s"window width k=$k must be >= 2")
    val wins = substrWins(documents, k, hashFingerprints)
    val firsts = substrFirsts(wins)
    substrRemovalAgainst(documents, wins, firsts, k)
  }

  /** The rolling k-token window stream (doc_id, pos, fp) — q124's
    * first stage, factored so the incremental form reuses it.
    */
  private def substrWins(documents: DataFrame, k: Int,
                         hashFingerprints: Boolean): DataFrame = {
    // native rolling kernel (r19, guide §4): same window strings,
    // same md5/xxhash64 bytes as the transform(sequence(...)) HOF
    // form, one tight loop per doc instead of an interpreted lambda
    // per window
    val mode = if (hashFingerprints) "xx" else "md5"
    graft.functions.Registry.ensure(documents.sparkSession)
    Par.fan(documents, $"doc_id")
      .withColumn("w", TextAnalysis.tokens($"text"))
      .filter(size($"w") >= k)
      // (fan above: the rolling-fingerprint kernel is the CPU cost)
      .select($"doc_id", posexplode(
        call_function("graft_rolling_fp", $"w", lit(k), lit(1), lit(mode)))
        .as(Seq("p0", "fp")))
      .select($"doc_id", ($"p0" + 1).as("pos"), $"fp")
  }

  /** First occurrences per window fingerprint — the standing
    * artifact an incremental ExactSubstr deployment persists:
    * (fp, first = (doc_id, pos)), one row per distinct window ever
    * seen. An aggregate, not a window (the q122 hot-key argument).
    */
  def substrFirsts(wins: DataFrame): DataFrame =
    wins.groupBy($"fp")
      .agg(min(struct($"doc_id", $"pos")).as("first"))

  /** q124's removal tail against an EXPLICIT firsts table: mark every
    * window occurrence that is not the recorded first, collapse to
    * one bounded row per doc, cut covered intervals, reassemble.
    */
  private def substrRemovalAgainst(documents: DataFrame, wins: DataFrame,
                                   firsts: DataFrame, k: Int): DataFrame = {
    // one bounded row per affected doc: the sorted start positions of
    // its non-first (duplicated) windows
    val dups = wins.join(firsts, Seq("fp"))
      .filter(!($"doc_id" === $"first.doc_id" && $"pos" === $"first.pos"))
      .groupBy($"doc_id")
      .agg(array_sort(collect_list($"pos")).as("dups"))
    val toks = Par.fan(documents, $"doc_id")
      .select($"doc_id", TextAnalysis.tokens($"text").as("w"))
      // NULL-text guard only — empty docs flow through as one ""
      // token, the lineDedup/oracle convention. A NULL text would
      // diverge from the oracle's LEFT JOIN (which keeps the row with
      // NULL n_tokens), so the non-null convention is enforced as a
      // data contract: DataContractSpec pins documents.text non-null
      // in every graded SF dir (r16 ADVICE).
      .filter(size($"w") >= 1)
      .withColumn("n", size($"w"))
    // fold the sorted duplicated starts into the KEPT index list
    // directly: `nxt` is the next still-uncovered candidate position;
    // each dup start p contributes the gap [nxt, p-1] (when nonempty)
    // and advances coverage through p+k-1. O(tokens + dups) per doc.
    val zero = struct(
      array().cast("array<int>").as("kept"), lit(1).as("nxt"))
    val keptIdx = aggregate(
      coalesce($"dups", array().cast("array<int>")),
      zero,
      (acc, p) => struct(
        concat(acc("kept"),
          when(p > acc("nxt"), sequence(acc("nxt"), p - 1))
            .otherwise(array().cast("array<int>"))).as("kept"),
        greatest(acc("nxt"), p + k).as("nxt")),
      acc => concat(acc("kept"),
        when($"n" >= acc("nxt"), sequence(acc("nxt"), $"n"))
          .otherwise(array().cast("array<int>"))))
    toks.join(dups, Seq("doc_id"), "left")
      .withColumn("kept_idx", keptIdx)
      .select($"doc_id", $"n".cast("long").as("n_tokens"),
        ($"n" - size($"kept_idx")).cast("long").as("removed_tokens"),
        concat_ws(" ",
          transform($"kept_idx", t => element_at($"w", t))).as("clean_text"))
      .orderBy($"doc_id")
  }

  /** Incremental ExactSubstr removal (q128) — q124's semantics run
    * the way a crawl pipeline actually ingests: clean each ARRIVING
    * batch against the standing first-occurrence table
    * ([[substrFirsts]] persisted between batches, the q105
    * standing-corpus pattern), so the corpus is never re-tokenized —
    * per batch the cost is the batch's own window stream plus one
    * equi-join on fp against the firsts table (8-byte keys in
    * production, [[exactSubstrRemoval]]'s hashFingerprints rule).
    *
    * Merge rule: a window recorded in the standing table beats every
    * occurrence in the batch UNCONDITIONALLY (its earlier occurrence
    * already shipped cleaned); within the batch, min (doc_id, pos)
    * wins. When batches
    * arrive in doc_id order (the declared q128 shape: the corpus
    * split at its median id, processed low-then-high), the decisions
    * are IDENTICAL to one-shot [[exactSubstrRemoval]] over the whole
    * corpus — the equality the oracle checks, since q128 shares
    * q124's SQL verbatim. Out-of-order arrival degrades to
    * keep-first-ARRIVAL (a lower-id late batch cannot retract the
    * already-shipped cleaning of an earlier batch) — CCNet's actual
    * online behavior, spec-pinned.
    *
    * Returns the cleaned batch; [[mergedSubstrFirsts]] produces the
    * updated standing table for the next batch.
    */
  def exactSubstrRemovalIncremental(batch: DataFrame,
      standingFirsts: Option[DataFrame], k: Int = 8,
      hashFingerprints: Boolean = false): DataFrame = {
    graft.functions.Registry.ensure(batch.sparkSession)
    require(k >= 2, s"window width k=$k must be >= 2")
    val wins = substrWins(batch, k, hashFingerprints)
    val firsts = mergedFirstsOf(standingFirsts, wins)
    substrRemovalAgainst(batch, wins, firsts, k)
  }

  /** The updated standing table after a batch: union the batch's
    * firsts in under the same min-struct rule. One aggregate over
    * (standing ∪ batch windows' firsts) — the artifact to persist.
    */
  def mergedSubstrFirsts(batch: DataFrame,
      standingFirsts: Option[DataFrame], k: Int = 8,
      hashFingerprints: Boolean = false): DataFrame =
    mergedFirstsOf(standingFirsts, substrWins(batch, k, hashFingerprints))

  private def mergedFirstsOf(standing: Option[DataFrame],
                             wins: DataFrame): DataFrame = {
    val batchFirsts = substrFirsts(wins)
    standing match {
      case None => batchFirsts
      // STANDING entries win unconditionally (keep-first-ARRIVAL):
      // a min(struct) merge would let a late LOWER-id batch steal
      // firstness from a window whose earlier occurrence already
      // shipped cleaned — the batch contributes only fps the table
      // has never seen. On ordered arrival standing entries are the
      // struct-min anyway, so the q124 equality is unaffected.
      case Some(st) => st.unionByName(
        batchFirsts.join(st.select($"fp"), Seq("fp"), "left_anti"))
    }
  }

  /** Declared q128 shape: the corpus split at its median doc_id and
    * ingested as two ordered batches through the incremental path —
    * firsts from batch 1 persist (localCheckpoint stands in for the
    * parquet table a deployment writes), batch 2 cleans against
    * them, outputs union. Ordered batches ⇒ output ≡ one-shot q124,
    * which is why this query shares q124's DuckDB oracle verbatim:
    * the gate proves the incremental path's equality cross-engine.
    */
  def exactSubstrRemovalTwoBatch(documents: DataFrame,
                                 k: Int = 8): DataFrame = {
    graft.functions.Registry.ensure(documents.sparkSession)
    val cutRow = documents.agg(
      percentile_approx($"doc_id", lit(0.5), lit(100000))).head()
    // empty corpus: the median aggregate is NULL — there is nothing
    // to split, so the one-shot path returns the (empty) answer
    // directly instead of NPEing on the cut (r16 ADVICE)
    if (cutRow.isNullAt(0)) return exactSubstrRemoval(documents, k)
    val cut = cutRow.getLong(0)
    val b1 = documents.filter($"doc_id" <= cut)
    val b2 = documents.filter($"doc_id" > cut)
    val cleaned1 = exactSubstrRemovalIncremental(b1, None, k)
    val firsts1 = mergedSubstrFirsts(b1, None, k).localCheckpoint(true)
    val cleaned2 = exactSubstrRemovalIncremental(b2, Some(firsts1), k)
    cleaned1.unionByName(cleaned2).orderBy($"doc_id")
  }

  /** Cluster-representative selection (q123) — the retention decision
    * that follows clustering: within every duplicate cluster from
    * [[dupClusters]] (q66), keep the single highest-quality document
    * (TextAnalysis.qualityScore, q31) and drop the rest. This is the
    * "keep best, not first" policy production pipelines prefer over
    * q66's min-id keeper: re-crawls often carry the cleaner copy.
    * Ties break on min doc_id so the decision is deterministic.
    *
    * Shape: quality is one scan of `documents`; the argmax per
    * cluster is a row_number window partitioned by cluster_id —
    * safe here (unlike the span case above) because dup clusters are
    * shallow stars/chains whose size is bounded by the dedup
    * signal itself, not by corpus growth; the partition count grows
    * with the corpus, the partition width does not.
    */
  def dedupKeepBest(documents: DataFrame, n: Int = 3,
                    tau: Double = 0.1): DataFrame =
    keepBestOver(documents,
      dupClusters(documents, n, tau)
        .select($"doc_id", $"cluster_id", $"cluster_size"))

  /** The keep-best decision over an arbitrary cluster assignment —
    * the shared tail of [[dedupKeepBest]] and [[dedupKeepBestLsh]]:
    * q31 quality join + argmax-per-cluster window (safe for the same
    * bounded-cluster-width reason, whatever produced the clusters).
    */
  private[operators] def keepBestOver(documents: DataFrame,
                                      clusters: DataFrame): DataFrame = {
    // r20: withQuality directly (same `quality` expression) instead
    // of qualityScore — drops qualityScore's interior ORDER BY, whose
    // range-sampling pass re-evaluated the whole tokenize+score
    // subtree (guide §4.4-class duplicate evaluation), and fans the
    // CPU-dense scoring pass (identity at scale, see Par.fan)
    val quality = graft.operators.TextAnalysis
      .withQuality(Par.fan(documents, $"doc_id"))
      .select($"doc_id", $"quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"quality".desc, $"doc_id")
    clusters.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select($"doc_id", $"cluster_id", $"cluster_size", $"quality",
        ($"rk" === 1).as("keep"))
      .orderBy($"doc_id")
  }

  /** [[dupClusters]] with MinHash-LSH near-dup edges — the 100-TB
    * signal: candidate generation is the banded equi-join on k-long
    * signatures ([[minhashLsh]]), never the exact shared-shingle join,
    * so edge discovery cost is signature + band shuffle, linear in
    * the corpus at any shingle density. The recall trade is LSH's
    * (band collision probability at the τ operating point); exact-dup
    * edges are unioned in as always, so byte-identical re-crawls
    * cluster regardless of what the probabilistic signal sees.
    */
  def dupClustersLsh(documents: DataFrame, n: Int = 3,
                     tauEst: Double = 0.1, k: Int = MinHashK,
                     bands: Int = Bands, maxIters: Int = 20): DataFrame =
    dupClustersFrom(documents,
      minhashLsh(documents, n, tauEst, k, bands).select($"doc_a", $"doc_b"),
      maxIters)

  /** Keep-best retention over the MINHASH near-dup path (q127) — the
    * end-to-end composition a 100-TB curation pipeline actually runs
    * (the RefinedWeb/CCNet shape): MinHash signatures → LSH band
    * candidates → estimated-Jaccard verify → connected components →
    * highest-quality keeper per cluster. Identical decision contract
    * to q123 (one keeper per cluster, quality argmax, min-id ties)
    * with the edge signal swapped from exact shared-shingle scoring
    * to the banded sketch join — q123 is the oracle-checkable twin,
    * this is the plan whose every stage stays blocked and linear at
    * corpus scale.
    */
  def dedupKeepBestLsh(documents: DataFrame, n: Int = 3,
                       tauEst: Double = 0.1, k: Int = MinHashK,
                       bands: Int = Bands): DataFrame =
    keepBestOver(documents,
      dupClustersLsh(documents, n, tauEst, k, bands)
        .select($"doc_id", $"cluster_id", $"cluster_size"))

  /** The banded signature frame — q129's STANDING artifact: one row
    * per (doc, band) carrying the band bucket key AND the full
    * signature, so probing it is a single equi-join with in-row
    * est-Jaccard verification (no second join to fetch signatures).
    * This is what an incremental near-dup deployment persists
    * between batches (the q105/q128 standing-table pattern applied
    * to q127's edge signal): signatures are the expensive artifact —
    * tokenize + shingle + k minhashes over the text — and with the
    * band table stored, an arriving batch pays its OWN signature
    * pass plus one band equi-join; the standing corpus is never
    * re-tokenized, never re-signatured, never re-paired against
    * itself.
    */
  def minhashBanded(documents: DataFrame, n: Int = 3,
                    k: Int = MinHashK, bands: Int = Bands): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rowsPerBand = k / bands
    minhashSignatures(documents, n, k)
      .select($"doc_id", $"sig",
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_key",
        xxhash64($"band", slice($"sig", $"band" * rowsPerBand + 1, lit(rowsPerBand))))
  }

  /** Near-dup edges DISCOVERED at a batch's arrival (q129): the
    * arriving batch's banded frame probes the standing band table
    * (cross edges — each pair found exactly when its later-arriving
    * member arrives) and itself (within-batch edges), est-Jaccard
    * verified from the carried signatures — the same τ test as
    * [[minhashLsh]]. Pairs are normalized doc_a < doc_b, so the
    * edges accumulated over ANY arrival order equal the one-shot
    * edge set over the union corpus — the arrival-order INVARIANCE
    * that makes merge-on-read decisions (cluster + keep-best over
    * the accumulated log) exactly reproduce one-shot q127
    * (spec-pinned, including a shuffled split).
    */
  def minhashProbe(batchBanded: DataFrame, standing: Option[DataFrame],
                   tauEst: Double = 0.1, k: Int = MinHashK): DataFrame = {
    // normalize each joined side to (doc_a < doc_b) pair rows before
    // the union — the join frames carry ambiguous a/b column names
    def pairsOf(joined: DataFrame): DataFrame = joined.select(
      least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
      greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
      when(col("a.doc_id") < col("b.doc_id"), col("a.sig"))
        .otherwise(col("b.sig")).as("sig_a"),
      when(col("a.doc_id") < col("b.doc_id"), col("b.sig"))
        .otherwise(col("a.sig")).as("sig_b"))
    val within = pairsOf(batchBanded.as("a").join(batchBanded.as("b"),
      col("a.band") === col("b.band") &&
      col("a.band_key") === col("b.band_key") &&
      col("a.doc_id") < col("b.doc_id")))
    val cands = standing match {
      case None => within
      case Some(st) =>
        // cross probe: arriving doc × standing doc — doc sets are
        // disjoint on clean arrival; replayed overlaps collapse in
        // the normalized dropDuplicates
        within.unionByName(
          pairsOf(batchBanded.as("a").join(st.as("b"),
            col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") =!= col("b.doc_id"))))
    }
    cands
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        size(filter(zip_with($"sig_a", $"sig_b", (x, y) => x === y), b => b))
          * 1.0 / k)
      .filter($"est_jaccard" >= tauEst)
      .select($"doc_a", $"doc_b", $"est_jaccard")
  }

  /** ONLINE screening decision for an arriving batch (q129's
    * immediate answer, the CCNet online behavior): a batch document
    * is kept iff it matches nothing in the standing table and no
    * EARLIER (lower doc_id) document of its own batch. Keep-first-
    * ARRIVAL: a standing document is never retracted — an arriving
    * duplicate is dropped at arrival even when it is the
    * higher-quality copy (spec-pinned; the retention-quality trade
    * is why the merge-on-read path exists alongside: decisions
    * re-derived from the accumulated edge log are arrival-order-free
    * and keep-BEST, at the cost of re-clustering at read time).
    * Output: one row per batch doc with its candidate count, max
    * est-Jaccard, the matched doc it lost to (min id, null when
    * kept), and the keep flag.
    */
  def minhashScreenBatch(batch: DataFrame, standing: Option[DataFrame],
                         n: Int = 3, tauEst: Double = 0.1,
                         k: Int = MinHashK, bands: Int = Bands,
                         prebanded: Option[DataFrame] = None): DataFrame = {
    // `prebanded` lets a store ingest ([[MinhashStore.ingestBatch]])
    // that already signatured the batch reuse the checkpointed frame
    // instead of paying the tokenize+minhash pass twice
    val banded = prebanded.getOrElse(
      minhashBanded(batch, n, k, bands).localCheckpoint(true))
    // DIRECTED candidate edges, unlike [[minhashProbe]]'s normalized
    // log: the winner of a cross edge is the STANDING doc no matter
    // the ids (that is what keep-first-arrival MEANS); within the
    // batch the lower id wins (first in the batch file)
    val withinD = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("loser"), col("a.doc_id").as("winner"),
        col("b.sig").as("sig_l"), col("a.sig").as("sig_w"))
    val directed = standing match {
      case None => withinD
      case Some(st) => withinD.unionByName(
        banded.as("a").join(st.as("b"),
            col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("loser"), col("b.doc_id").as("winner"),
            col("a.sig").as("sig_l"), col("b.sig").as("sig_w")))
    }
    val lost = directed
      .dropDuplicates("loser", "winner")
      .withColumn("est_jaccard",
        size(filter(zip_with($"sig_l", $"sig_w", (x, y) => x === y), b => b))
          * 1.0 / k)
      .filter($"est_jaccard" >= tauEst)
      .groupBy($"loser".as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        max($"est_jaccard").as("max_est_jaccard"),
        min($"winner").as("matched_doc"))
    batch.select($"doc_id").distinct()
      .join(lost, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"),
        $"max_est_jaccard", $"matched_doc",
        $"matched_doc".isNull.as("keep"))
      .orderBy($"doc_id")
  }
}
