package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.SegmentProtocol

/** The PERSISTED standing MinHash band table (q129) — the parquet
  * store a crawl-dedup deployment actually maintains between batches.
  * The standing artifact is [[Dedup.minhashBanded]]'s output: one row
  * per (doc, band) carrying the band bucket key AND the full
  * signature, so probing it is one
  * equi-join with in-row est-Jaccard verification — an arriving batch
  * pays its own signature pass plus that join; the standing corpus is
  * never re-tokenized, re-signatured, or re-paired against itself.
  *
  * Store layout (all parquet, written by Spark so it lives on any
  * Hadoop filesystem — every path here goes through the Hadoop
  * FileSystem API, never java.nio):
  *
  * {{{
  *   storeDir/
  *     bands/seg=<batchId>/band=<b>/   one file per (segment, band)
  *     edges/seg=<batchId>/            near-dup pairs found AT arrival
  *     decisions/seg=<batchId>/        the batch's online screen verdicts
  *     commits/<batchId>               commit markers (the commit POINT)
  * }}}
  *
  * Exactly-once mechanics — [[graft.SegmentProtocol.commitBatch]]'s
  * batch ledger applied to the dedup screen:
  *
  *  - a batch's three frames all land under `seg=<batchId>` dirs with
  *    mode=overwrite, and the bare `commits/<batchId>` marker is
  *    created only after all three are durable. The marker is the
  *    COMMIT POINT: readers union committed segments only, so a
  *    half-written batch is invisible.
  *  - replay of a committed batch is a driver-side no-op (marker
  *    check, no job). Replay of an UNCOMMITTED batch — the crash
  *    window anywhere before the marker — recomputes against the same
  *    standing table (committed segments with id < batchId, which a
  *    crash cannot have changed) and overwrites the same seg dirs
  *    with identical content, then commits. Both laws are spec-pinned
  *    by deleting the marker and re-ingesting.
  *  - determinism under replay is why the standing table is "committed
  *    AND strictly earlier": the batch's own (possibly half-written)
  *    seg dir can never leak into its own probe.
  *
  * Edge-log semantics carry over from the in-session q129 proof: each
  * near-dup pair is discovered exactly once, when its later-arriving
  * member arrives, so the accumulated `edges/` log equals the one-shot
  * LSH pair set under ANY arrival order, and merge-on-read decisions
  * (cluster + keep-best over the stored log) exactly reproduce the
  * one-shot q127 — now across process restarts, because the log is on
  * disk.
  *
  * At 100 TB: `band` is a PARTITION COLUMN (each segment is
  * repartitioned to exactly one file per band before the partitioned
  * write — the q130 cid discipline), so band-restricted maintenance
  * reads are partition-pruned I/O and the probe join's build side
  * arrives band-clustered; `bands/` grows one segment per batch and
  * holds rows ∝ corpus × bands with no per-batch rewrite; `edges/`
  * and `decisions/` grow ∝ duplicates found, not corpus. Segment
  * fan-in is bounded the same way q121's is — fold old segments with
  * an overwrite of a base segment under the same append-only row
  * semantics (band rows are immutable facts, so compaction here is a
  * pure concatenation, even simpler than q121's sum merge).
  */
object MinhashStore {

  /** Committed batch ids, ascending. Driver-side listing of
    * `commits/` — O(batches) names, no job.
    */
  def committedIds(spark: SparkSession, storeDir: String): Seq[Long] =
    SegmentProtocol.committedIds(SegmentProtocol.fsOf(spark, storeDir), storeDir)

  /** Read the committed segments in `ids` under `root` as one frame —
    * `project` (applied per part, before the union) selects the
    * caller's columns so the basePath-partitioned seg read and a
    * fold-tmp read union cleanly. Returns None when nothing holds
    * data: an EMPTY batch frame writes no part file (only _SUCCESS —
    * or, for a duplicate-free batch's edges, nothing at all), and a
    * path list containing such a segment would fail schema inference
    * for the whole union.
    *
    * The segments come from [[graft.SegmentProtocol.readSegments]], so
    * a read never mutates a crashed or in-flight compaction. Its tmp
    * substitutes soundly under any caller filter because fold targets
    * are committed ids and ingest ids are monotonic: every
    * standing-table window (`id < beforeBatch` for a fresh or replayed
    * batch) contains either ALL of the fold set or none of it.
    */
  private def readSub(spark: SparkSession, root: String, ids: Seq[Long])
                     (project: DataFrame => DataFrame): Option[DataFrame] = {
    val fs = SegmentProtocol.fsOf(spark, root)
    val want = ids.toSet
    val (segs, tmp) = SegmentProtocol.readSegments(fs, root).collect {
      case (i, p) if want(i) && SegmentProtocol.hasDataFiles(fs, p) => p
    }.partition(_.getName.startsWith("seg="))
    val base =
      if (segs.isEmpty) None
      else Some(spark.read.option("basePath", root).parquet(segs.map(_.toString): _*))
    (base ++ tmp.map(p => spark.read.parquet(p.toString))).map(project)
      .reduceOption(_ unionByName _)
  }

  /** The standing band table visible to batch `beforeBatch`: committed
    * segments with id strictly below it (None when no such segment
    * exists — the first batch probes nothing). Read with `bands/` as
    * basePath so seg and band come back as partition columns; `band`
    * is re-selected in the arriving frame's column order and type so
    * the probe join is int = int.
    */
  def storedBandsBefore(spark: SparkSession, storeDir: String,
                        beforeBatch: Long): Option[DataFrame] = {
    val ids = committedIds(spark, storeDir).filter(_ < beforeBatch)
    readSub(spark, s"$storeDir/bands", ids)(
      _.select($"doc_id", $"band".cast("int").as("band"), $"band_key", $"sig"))
  }

  /** The full committed standing band table (every committed segment). */
  def storedBands(spark: SparkSession, storeDir: String): Option[DataFrame] =
    storedBandsBefore(spark, storeDir, Long.MaxValue)

  /** The accumulated near-dup edge log: (doc_a, doc_b, est_jaccard),
    * doc_a < doc_b, one row per pair — each pair was written exactly
    * once, by the segment of its later-arriving member.
    */
  def storedEdges(spark: SparkSession, storeDir: String): DataFrame = {
    val ids = committedIds(spark, storeDir)
    require(ids.nonEmpty,
      s"minhash store at $storeDir has no committed segment — " +
        "ingest a batch first")
    readSub(spark, s"$storeDir/edges", ids)(
      _.select($"doc_a", $"doc_b", $"est_jaccard"))
      .getOrElse( // committed, duplicate-free corpus: a typed empty log
        spark.range(0).select($"id".as("doc_a"), $"id".as("doc_b"),
          $"id".cast("double").as("est_jaccard")))
  }

  /** The accumulated online screen decisions (one row per ingested
    * doc: n_candidates, max_est_jaccard, matched_doc, keep).
    */
  def storedDecisions(spark: SparkSession, storeDir: String): DataFrame = {
    val ids = committedIds(spark, storeDir)
    require(ids.nonEmpty,
      s"minhash store at $storeDir has no committed segment — " +
        "ingest a batch first")
    readSub(spark, s"$storeDir/decisions", ids)(
      _.select($"doc_id", $"n_candidates", $"max_est_jaccard",
        $"matched_doc", $"keep"))
      .getOrElse( // only empty batches were ever committed
        spark.range(0).select($"id".as("doc_id"), $"id".as("n_candidates"),
          $"id".cast("double").as("max_est_jaccard"), $"id".as("matched_doc"),
          ($"id" > 0).as("keep")))
  }

  /** Ingest one arriving batch — the per-batch unit of the standing
    * screen. Single-writer (the deployment's ingest ledger or the
    * streaming checkpoint serializes batches); `batchId` must be
    * fresh and above every committed id, or a replay of a committed
    * id (no-op). Cost ∝ batch: one signature pass over the batch
    * (shared by screen, bands write, and probe via the checkpointed
    * frame), one band equi-join against the stored standing table,
    * three overwrite writes.
    */
  def ingestBatch(batch: DataFrame, storeDir: String, batchId: Long,
                  n: Int = 3, tauEst: Double = 0.1,
                  k: Int = Dedup.MinHashK, bands: Int = Dedup.Bands): Unit = {
    val spark = batch.sparkSession
    SegmentProtocol.commitBatch(SegmentProtocol.fsOf(spark, storeDir),
        storeDir, batchId) {
      val banded = Dedup.minhashBanded(batch, n, k, bands).localCheckpoint(true)
      val standing = storedBandsBefore(spark, storeDir, batchId)
      // 1. online decisions for THIS batch against the pre-batch
      //    standing table (keep-first-arrival; recomputed identically on
      //    replay because the standing set is frozen by the marker rule)
      Dedup.minhashScreenBatch(batch, standing, n, tauEst, k, bands,
          prebanded = Some(banded))
        .write.mode("overwrite").parquet(s"$storeDir/decisions/seg=$batchId")
      // 2. the batch's signature contribution — band-partitioned, one
      //    file per band (the q130 one-file-per-partition discipline)
      banded.repartition($"band")
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$storeDir/bands/seg=$batchId")
      // 3. the edges this arrival discovers (within-batch + cross into
      //    the standing corpus) — the arrival-order-invariant log
      Dedup.minhashProbe(banded, standing, tauEst, k)
        .write.mode("overwrite").parquet(s"$storeDir/edges/seg=$batchId")
    }
  }

  /** Merge-on-read retention over the STORED edge log: cluster +
    * keep-best (the q121 read-side pattern). Arrival-order-free and
    * keep-BEST — the complement of the online screen's
    * keep-first-arrival, answered entirely from disk; provably equal
    * to one-shot q127 over the ingested corpus (spec-pinned).
    */
  def dedupKeepBestStored(documents: DataFrame, storeDir: String,
                          maxIters: Int = 20): DataFrame =
    Dedup.keepBestOver(documents,
      Dedup.dupClustersFrom(documents,
          storedEdges(documents.sparkSession, storeDir)
            .select($"doc_a", $"doc_b"), maxIters)
        .select($"doc_id", $"cluster_id", $"cluster_size"))

  /** STREAMING ingest — [[ingestBatch]] as the q121 checkpointed
    * exactly-once sink: each micro-batch of arriving documents runs
    * one store ingest with the STREAMING ENGINE's batchId, so the
    * checkpoint's offset log is the ingest ledger (restart resumes
    * from recorded offsets and never re-reads a processed file) and
    * the marker protocol absorbs the replay window between a sink
    * write and the offset commit. No watermark is involved: the sink
    * is stateless pass-through (documents carry no event time and the
    * screen aggregates nothing across batches — the standing table IS
    * the state, on disk). Processes whatever is in the source now and
    * returns; re-invoking with the same checkpoint resumes.
    */
  def ingestStreamOnce(docs: DataFrame, storeDir: String,
                       checkpointDir: String,
                       n: Int = 3, tauEst: Double = 0.1,
                       k: Int = Dedup.MinHashK,
                       bands: Int = Dedup.Bands): Unit =
    graft.streaming.EventStream.drainOnce(docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, storeDir, batchId, n, tauEst, k, bands)
      })

  /** Declared q129 shape: the corpus split at its median doc_id
    * arrives as two batches through the marker-committed ingest into a
    * persisted store; retention is answered MERGE-ON-READ from the
    * stored edge log. The store is built once per source
    * ([[graft.SegmentProtocol.sessionStore]]): the first invocation
    * pays both ingests, every later one answers from the standing
    * store — exactly the operator's deployment contract.
    */
  def roundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    dedupKeepBestStored(docs,
      SegmentProtocol.sessionStore("minhash_store", sfDir)(
        ingestTwoBatches(docs, _)))
  }

  /** One subdir's fold — [[graft.SegmentProtocol.fold]] with the
    * store's own invariants layered on:
    *
    *  - the fold set is the on-disk segments INTERSECTED with the
    *    commit ledger: a crashed uncommitted ingest
    *    leaves seg dirs without a marker, and folding one would make
    *    its phantom rows reader-visible inside a committed base (or
    *    fold committed rows into an uncommitted target id every
    *    reader skips). Uncommitted dirs BELOW the newest committed id
    *    are deleted — the monotonic-id guard means a replay of that
    *    id would be refused, so the dir can never commit and is dead
    *    garbage; an uncommitted dir ABOVE it is an ingest awaiting
    *    replay and is left alone (and, being above every committed
    *    id, can never sit below a fold target).
    *  - only data-bearing segments are read: a
    *    duplicate-free corpus commits edge segments holding only
    *    _SUCCESS, and a path list of those would fail schema
    *    inference. If the whole fold set is empty dirs there is
    *    nothing to publish — the folded dirs are simply deleted
    *    (readers resolve a missing seg dir to no extra path), and the
    *    subdir reports no fold.
    */
  private def foldSub(spark: SparkSession, root: String,
                      committed: Seq[Long], partitioned: Boolean,
                      keepNewest: Int): Int = {
    val fs = SegmentProtocol.fsOf(spark, root)
    val committedSet = committed.toSet
    def segDir(i: Long) = new Path(s"$root/seg=$i")
    SegmentProtocol.fold(fs, root) { onDisk =>
      if (committed.nonEmpty)
        onDisk.filter(i => !committedSet(i) && i < committed.max)
          .foreach(i => fs.delete(segDir(i), true))
      val fold = onDisk.filter(committedSet).dropRight(keepNewest)
      if (fold.length < 2 || fold.exists(i => SegmentProtocol.hasDataFiles(fs, segDir(i))))
        fold
      else {
        // nothing to publish: drop the empty folded dirs directly —
        // no marker needed, a crash mid-delete leaves empty dirs that
        // carry no data and fold again next period
        fold.foreach(i => fs.delete(segDir(i), true))
        Seq.empty
      }
    } { (segs, tmp) =>
      val df = spark.read.option("basePath", root)
        .parquet(segs.filter(SegmentProtocol.hasDataFiles(fs, _)).map(_.toString): _*)
        .drop("seg")
      // band rows are immutable facts, so the fold is PURE CONCATENATION
      // (simpler than q121's sum merge); the bands subdir re-applies
      // the one-file-per-band layout law on the way through
      val writer =
        if (partitioned)
          df.select($"doc_id", $"band_key", $"sig", $"band")
            .repartition($"band")
            .write.partitionBy("band")
        else df.write
      writer.mode("overwrite").parquet(tmp)
    }
  }

  /** Fold every data segment except the newest `keepNewest` into one
    * base segment per subdir — the q121 compaction discipline that
    * bounds read fan-in as batches accrete (segment count grows with
    * ingest cadence; at 100 TB the fold moves band rows ∝ corpus ×
    * bands ONCE per period, never per batch). Commit markers are the
    * ledger and are never touched: replay semantics and the
    * monotonic-id guard survive compaction unchanged, and the readers'
    * existence filter makes a folded-away segment id simply resolve to
    * no extra path. Folding into the max folded id is sound for the
    * probe's strictly-below filter because ingest ids are monotonic:
    * every future batch's id exceeds the base segment's, so the base
    * is always inside its standing window. Each subdir folds independently under its own
    * marker protocol (pure concatenation of immutable rows, so a crash
    * between subdirs leaves every reader correct); single-writer like
    * the ingest itself. Returns segments folded in the bands subdir
    * (0 = nothing to do).
    */
  def compactStore(spark: SparkSession, storeDir: String,
                   keepNewest: Int = 1): Int = {
    require(keepNewest >= 0, s"keepNewest must be >= 0: $keepNewest")
    val committed = committedIds(spark, storeDir)
    val folded = foldSub(spark, s"$storeDir/bands", committed,
      partitioned = true, keepNewest)
    foldSub(spark, s"$storeDir/edges", committed, partitioned = false,
      keepNewest)
    foldSub(spark, s"$storeDir/decisions", committed, partitioned = false,
      keepNewest)
    folded
  }

  /** [[compactStore]] as a schedulable [[graft.Pipeline.Stage]] that
    * folds once the bands subdir holds more than `maxSegments` segments
    * ([[graft.SegmentProtocol.compactionStage]]).
    */
  def compactionStage(storeDir: String, maxSegments: Int = 8,
                      keepNewest: Int = 1): graft.Pipeline.Stage =
    SegmentProtocol.compactionStage(s"compact-minhash:$storeDir",
      s"$storeDir/bands", maxSegments)(compactStore(_, storeDir, keepNewest))

  /** Split at the median doc_id and ingest as two batches — the
    * deterministic two-arrival cadence the q129 specs pin (shared by
    * the declared round trip and the fresh-store spec path).
    */
  def ingestTwoBatches(docs: DataFrame, storeDir: String,
                       n: Int = 3, tauEst: Double = 0.1,
                       k: Int = Dedup.MinHashK,
                       bands: Int = Dedup.Bands): Unit = {
    val cutRow = docs.agg(
      percentile_approx($"doc_id", lit(0.5), lit(100000))).head()
    if (cutRow.isNullAt(0)) {
      // empty corpus: commit one empty segment so reads stay precise
      ingestBatch(docs, storeDir, 0L, n, tauEst, k, bands)
      return
    }
    val cut = cutRow.getLong(0)
    ingestBatch(docs.filter($"doc_id" <= cut), storeDir, 0L,
      n, tauEst, k, bands)
    ingestBatch(docs.filter($"doc_id" > cut), storeDir, 1L,
      n, tauEst, k, bands)
  }
}
