package graft

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}

/** The segment-store kernel: every store step that more than one of
  * the engine's standing stores takes, written once. The stores follow
  * Druid's model (reference: README.md:172-193): one segment lands per
  * batch, reads union the segments, and a scheduled compaction folds
  * them. Callers: [[graft.streaming.EventStream]] (q121 sketch
  * segments), [[graft.operators.MinhashStore]] (q129 band, edge and
  * decision segments) and [[graft.operators.Similarity]]'s IVFPQ index
  * (q130–q138: streaming code segments, the manifest delta ledger, the
  * codes compaction swap and the retrain swap).
  *
  * What the kernel owns:
  *
  *  - the `commits/<id>` batch ledger ([[committedIds]],
  *    [[commitBatch]]);
  *  - the read view of a `seg=<id>` table around a committed fold
  *    ([[readSegments]]);
  *  - the FOLD protocol ([[fold]], [[recoverFold]], [[commitFold]]) and
  *    its scheduled decision ([[compactionStage]]);
  *  - the SWAP protocol ([[commitSwap]], [[recoverSwap]],
  *    [[swapReadPath]]);
  *  - one temp store dir per declared query and source
  *    ([[sessionStore]]).
  *
  * What each store merges, filters or sweeps stays with that store; the
  * kernel never branches on its caller. Everything goes through the
  * Hadoop FileSystem API, so a store lives wherever Spark wrote it;
  * `rename()` on one filesystem is the protocols' only atomicity
  * primitive, the assumption Druid's segment handoff and Hive's INSERT
  * OVERWRITE make.
  *
  * '''FOLD''' bounds a `seg=<id>` table's read fan-in by folding old
  * segments into one base segment:
  *
  *   1. the folded rows are written to `_compact_tmp` under the table
  *      root (invisible to readers; the folded segments are intact),
  *   2. the `_COMPACT_TARGET` marker inside it, carrying the target
  *      segment id, is the COMMIT POINT,
  *   3. finish: delete every `seg=<id ≤ target>`, rename the tmp to
  *      `seg=<target>`, drop the marker last (a crash right there
  *      leaves a "_"-file parquet readers ignore).
  *
  * Readers never mutate: a read concurrent with an in-flight compaction
  * must not delete the writer's unmarked tmp, and a reader-side finish
  * could race a second reader's. Readers take [[readSegments]], which
  * reads AROUND a committed-but-unfinished fold: on-disk segments
  * strictly above the marker's target stay live, and the tmp dir
  * stands in for `seg=<target>` (it is complete, the marker says so,
  * and the possibly half-deleted folded segments ≤ target are all
  * superseded by it). Every mutation (finishing a crashed fold forward,
  * abandoning a pre-marker tmp) is writer-class: it runs at the start
  * of the next fold ([[recoverFold]]) under the store's single-writer
  * rule, where nothing can race it.
  *
  * '''SWAP''' replaces a whole directory (an index layout, a full
  * rebuild) behind readers' backs:
  *
  *   1. the replacement is built in a sibling tmp dir,
  *   2. a marker file inside it is the commit point,
  *   3. finish: park `live` as `old`, promote tmp to `live`, drop the
  *      marker, drop the parked copy.
  *
  * [[recoverSwap]] is writer-class and handles every crash window:
  * pre-marker tmp → abandon (live intact); marker-committed tmp →
  * finish forward (park may or may not have happened); tmp gone but
  * parked copy or in-live marker left → drop the stragglers. Readers
  * that must answer DURING the window between the two renames (live
  * parked, tmp not yet promoted) read the committed tmp directly —
  * see [[swapReadPath]].
  */
object SegmentProtocol {

  val FoldTmp = "_compact_tmp"
  val FoldMarker = "_COMPACT_TARGET"
  val SwapMarker = "_SWAP_READY"

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Segment ids with a `seg=<id>` dir under `root`, ascending.
    * Driver-side listing — O(segments) names, no job.
    */
  def segIdsOnDisk(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("seg="))
      .map(_.stripPrefix("seg=").toLong).sorted
  }

  /** True when `dir` exists and holds at least one non-hidden file —
    * the guard that keeps an empty segment (a batch that wrote only
    * _SUCCESS, or nothing) out of a parquet path list, where it would
    * fail schema inference for the whole union.
    */
  def hasDataFiles(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && {
      val it = fs.listFiles(dir, true)
      var hasData = false
      while (!hasData && it.hasNext) {
        val name = it.next().getPath.getName
        hasData = !name.startsWith("_") && !name.startsWith(".")
      }
      hasData
    }

  // ------------------------------------------------------------------
  // Batch ledger
  // ------------------------------------------------------------------

  /** Committed batch ids of the ledger under `root`, ascending.
    * Driver-side listing of `root/commits` — O(batches) names, no job.
    */
  def committedIds(fs: FileSystem, root: String): Seq[Long] = {
    val p = new Path(root, "commits")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** Land batch `batchId` of the ledger under `root` exactly once.
    * A committed id is a replay and a driver-side no-op. An unmarked id
    * below a committed one is refused: the caller's ledger (a streaming
    * checkpoint, a deployment's batch log) and the store disagree.
    * Otherwise `write` lands the batch's segments (mode=overwrite, so a
    * replay of an uncommitted batch rewrites the same bytes) and the
    * bare `commits/<batchId>` marker, created only after it, is the
    * COMMIT POINT. Single-writer.
    */
  def commitBatch(fs: FileSystem, root: String, batchId: Long)
                 (write: => Unit): Unit = {
    val marker = new Path(s"$root/commits/$batchId")
    if (fs.exists(marker)) return
    val committed = committedIds(fs, root)
    require(committed.forall(_ < batchId),
      s"batchId $batchId is below a committed segment " +
        s"(${committed.max}) but carries no marker — the ingest ledger " +
        "and the store disagree; refusing to rewrite history")
    write
    fs.create(marker, true).close()
  }

  // ------------------------------------------------------------------
  // FOLD protocol
  // ------------------------------------------------------------------

  /** The committed-but-unfinished fold under `root`, if any:
    * (tmp path, target segment id). Pre-marker tmps are NOT reported —
    * to a reader they do not exist.
    */
  private def committedFold(fs: FileSystem, root: String): Option[(Path, Long)] = {
    val tmp = new Path(root, FoldTmp)
    val marker = new Path(tmp, FoldMarker)
    if (!fs.exists(marker)) None
    else Some((tmp, readTarget(fs, marker)))
  }

  private def readTarget(fs: FileSystem, marker: Path): Long = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in).mkString.trim.toLong
    finally in.close()
  }

  /** The segments a reader of the fold table under `root` unions, as
    * (segment id, dir) pairs: the live `seg=<id>` dirs, then a
    * committed-but-unfinished fold's tmp under its target id. Ids ≤
    * that target are superseded by the tmp and left out: a crashed
    * finish may have half-deleted them, and reading them TOGETHER with
    * the tmp would double-count. Each reader applies its own filter
    * (committed ids, non-empty dirs). Purely observational: never
    * mutates, so it is safe concurrent with the single writer.
    */
  def readSegments(fs: FileSystem, root: String): Seq[(Long, Path)] = {
    val fold = committedFold(fs, root)
    val cut = fold.map(_._2).getOrElse(Long.MinValue)
    segIdsOnDisk(fs, root).filter(_ > cut)
      .map(i => (i, new Path(s"$root/seg=$i"))) ++ fold.map(_.swap)
  }

  /** WRITER-CLASS recovery: finish a marker-committed fold forward,
    * abandon a pre-marker tmp. Run at the start of every fold (and
    * any other store MUTATION), never from a read path.
    */
  def recoverFold(fs: FileSystem, root: String): Unit = {
    val tmp = new Path(root, FoldTmp)
    if (!fs.exists(tmp)) return
    if (fs.exists(new Path(tmp, FoldMarker))) finishFold(fs, root)
    else fs.delete(tmp, true) // crashed before the commit point
  }

  /** One fold of the table under `root`: recover, let `choose` pick the
    * fold set from the on-disk segment ids, `write` the folded rows of
    * those segment dirs to the tmp path, and commit them into the set's
    * highest id, so every segment left stays above the base. Fewer than
    * two chosen segments fold nothing. Single-writer. Returns the
    * number of segments folded.
    */
  def fold(fs: FileSystem, root: String)(choose: Seq[Long] => Seq[Long])
          (write: (Seq[Path], String) => Unit): Int = {
    recoverFold(fs, root)
    val ids = choose(segIdsOnDisk(fs, root))
    if (ids.length < 2) return 0
    write(ids.map(i => new Path(s"$root/seg=$i")),
      new Path(root, FoldTmp).toString)
    commitFold(fs, root, ids.last)
    ids.length
  }

  /** The fold's commit: write the `target` marker into the
    * already-written tmp (the commit point — the folded data and its
    * _SUCCESS are durable first) and finish the fold.
    */
  def commitFold(fs: FileSystem, root: String, target: Long): Unit = {
    val out = fs.create(new Path(new Path(root, FoldTmp), FoldMarker), true)
    try out.write(target.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    finishFold(fs, root)
  }

  private def finishFold(fs: FileSystem, root: String): Unit = {
    val tmp = new Path(root, FoldTmp)
    val target = readTarget(fs, new Path(tmp, FoldMarker))
    segIdsOnDisk(fs, root).filter(_ <= target)
      .foreach(i => fs.delete(new Path(s"$root/seg=$i"), true))
    val dst = new Path(s"$root/seg=$target")
    require(fs.rename(tmp, dst),
      s"fold rename $tmp -> $dst failed — same-filesystem rename is " +
        "the protocol's atomicity primitive")
    // marker cleanup LAST: until the rename lands, the marker is the
    // only thing telling recovery the folded data lives in tmp. A
    // crash right here leaves a "_"-file parquet readers ignore.
    fs.delete(new Path(dst, FoldMarker), false)
  }

  /** A fold as a schedulable [[graft.Pipeline.Stage]], the way Druid's
    * coordinator drives compaction: each run inspects the segment count
    * under `root` driver-side and calls `compact` only when it exceeds
    * `maxSegments`. The stage's one row, (segments_before,
    * segments_folded, segments_after), is the decision record; run it
    * in the same pipeline as the store's ingest, never concurrently
    * with one.
    */
  def compactionStage(name: String, root: String, maxSegments: Int)
                     (compact: SparkSession => Int): Pipeline.Stage =
    Pipeline.stage(name) { spark =>
      import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
      val fs = fsOf(spark, root)
      val before = segIdsOnDisk(fs, root).length
      val folded = if (before > maxSegments) compact(spark) else 0
      Seq((before.toLong, folded.toLong, segIdsOnDisk(fs, root).length.toLong))
        .toDF("segments_before", "segments_folded", "segments_after")
    }

  // ------------------------------------------------------------------
  // SWAP protocol
  // ------------------------------------------------------------------

  /** Commit and execute a whole-directory swap: `marker` into the
    * fully-written `tmp` is the commit point; then park-promote-drop.
    * Writer-class, single-writer.
    */
  def commitSwap(fs: FileSystem, live: Path, old: Path, tmp: Path,
                 marker: String = SwapMarker): Unit = {
    fs.create(new Path(tmp, marker), true).close()
    finishSwap(fs, live, old, tmp, marker)
  }

  private def finishSwap(fs: FileSystem, live: Path, old: Path, tmp: Path,
                         marker: String): Unit = {
    if (fs.exists(live)) {
      fs.delete(old, true) // a stale parked copy from an older crash
      require(fs.rename(live, old), s"swap: parking $live as $old failed")
    }
    require(fs.rename(tmp, live),
      s"swap: promoting $tmp into $live failed — recoverSwap finishes " +
        "this forward")
    fs.delete(new Path(live, marker), false)
    fs.delete(old, true)
  }

  /** WRITER-CLASS swap recovery — finish forward or abandon; no-op on
    * a healthy layout. States, per [[commitSwap]]'s write order:
    * tmp without marker = crashed pre-commit, live intact → abandon
    * tmp; tmp with marker = replacement complete → finish forward;
    * no tmp = the promote landed → drop a leftover parked copy and
    * the in-live marker if the crash hit between those deletes.
    */
  def recoverSwap(fs: FileSystem, live: Path, old: Path, tmp: Path,
                  marker: String = SwapMarker): Unit = {
    if (fs.exists(tmp)) {
      if (fs.exists(new Path(tmp, marker))) finishSwap(fs, live, old, tmp, marker)
      else fs.delete(tmp, true)
    } else {
      val inLive = new Path(live, marker)
      if (fs.exists(inLive)) fs.delete(inLive, false)
      fs.delete(old, true)
    }
  }

  /** The READ-ONLY answer to "where is the live copy right now?"
    * during a swap: `live` when it exists; the committed `tmp` inside
    * the window between park and promote (the replacement is complete
    * — the marker says so — and reading it is exactly what the
    * finished swap would serve). Never mutates; a reader concurrent
    * with the single writer is always served a complete layout.
    */
  def swapReadPath(fs: FileSystem, live: Path, tmp: Path,
                   marker: String = SwapMarker): Path =
    if (fs.exists(live)) live
    else if (fs.exists(new Path(tmp, marker))) tmp
    else live // caller's read of the absent live dir raises its own error

  // ------------------------------------------------------------------
  // Session store dirs
  // ------------------------------------------------------------------

  private val sessionStores =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  // a shutdown hook, not deleteOnExit, which cannot remove non-empty
  // directories
  sys.addShutdownHook(sessionStores.values.forEach(d => rmRf(d)))

  private def rmRf(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** The temp store dir of the declared query `kind` over `source`, one
    * per JVM: the first call creates it and runs `build` on it, every
    * later call returns it as built. This is a standing store's
    * deployment contract (pay the ingest once, answer from the store
    * after that), and it keeps a repeated query from re-ingesting its
    * corpus. The dirs are removed at JVM exit; a dir whose `build`
    * throws is removed at once and built again by the next call.
    */
  def sessionStore(kind: String, source: String)(build: String => Unit): String =
    sessionStores.computeIfAbsent((kind, source), { _ =>
      val d = java.nio.file.Files.createTempDirectory(s"graft_$kind").toString
      try build(d)
      catch { case e: Throwable => rmRf(d); throw e }
      d
    })
}
