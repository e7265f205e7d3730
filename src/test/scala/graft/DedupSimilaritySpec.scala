package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, md5}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.streaming.EventStream
import graft.sources.Tables

/** Invariant tests for the non-oracled operators (SURVEY.md §2 blocks
  * D, E, G): approximate algorithms verified against exact baselines
  * and planted duplicates.
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  private def docsWithPlantedDup = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
      (2L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
      (3L, "the quick brown fox jumps over the lazy dog again and once", "en", "s", 59L),
      (4L, "completely different words about spark query engines at scale", "en", "s", 61L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("minhash LSH finds planted exact and near duplicates") {
    val pairs = Dedup.minhashLsh(docsWithPlantedDup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exactDup = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(exactDup.isDefined, s"exact dup 1-2 not found in $pairs")
    assert(exactDup.get._3 == 1.0, "identical docs must have est_jaccard 1.0")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L), "near dup 1-3 not found")
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L),
      s"unrelated doc paired: $pairs")
  }

  test("minhash LSH recall vs exact jaccard on documents table (declared K and production K)") {
    val docs = Tables.documents(spark, dir)
    val exact = Dedup.ngramJaccard(docs, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // declared q25 config: K=32, 16 bands
    val lsh = Dedup.minhashLsh(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh),
      s"LSH missed high-jaccard pairs: ${exact -- lsh}")
    // production config: K=128, 64 bands — same τ operating point,
    // 4× lower estimator variance; must not lose any true pair either
    val prod = Dedup.minhashLsh(docs,
        k = Dedup.ProdMinHashK, bands = Dedup.ProdBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(prod),
      s"production-K LSH missed high-jaccard pairs: ${exact -- prod}")
  }

  test("production-K est_jaccard is tighter than declared-K on planted near-dup") {
    // doc 1 vs 3 differ by one trailing word: true jaccard is high but
    // not 1.0; the K=128 estimate must land within 0.25 of the exact
    // value (binomial sd at K=128 ≈ 0.04, so 0.25 is a loose bound
    // that still catches a broken banding/slice)
    val docs = docsWithPlantedDup
    val exactJ = Dedup.ngramJaccard(docs, tau = 0.01)
      .filter("doc_a = 1 AND doc_b = 3")
      .collect()(0).getDouble(3)
    val estJ = Dedup.minhashLsh(docs,
        k = Dedup.ProdMinHashK, bands = Dedup.ProdBands)
      .filter("doc_a = 1 AND doc_b = 3")
      .collect()(0).getDouble(2)
    assert(math.abs(estJ - exactJ) <= 0.25,
      s"est=$estJ exact=$exactJ drift too large for K=128")
  }

  test("jaccard stop-shingle cap drops hot-shingle-only candidates, keeps real dups") {
    import spark.implicits._
    // every doc shares one viral 3-gram ("terms of service"); docs 1-2
    // additionally share real content. With the cap below the viral
    // shingle's DF, only the real near-dup pair survives; with the cap
    // above every DF, output equals the uncapped form.
    val viral = "terms of service"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta $viral", "en", "s", 40L),
      (2L, s"alpha beta gamma delta epsilon eta $viral", "en", "s", 40L),
      (3L, s"one two three four five six $viral", "en", "s", 40L),
      (4L, s"seven eight nine ten eleven twelve $viral", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val capped = Dedup.ngramJaccard(docs, tau = 0.01, maxShingleDf = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"real near-dup dropped: $capped")
    assert(!capped.exists(p => p._1 == 3L || p._2 == 3L),
      s"hot-shingle-only pair survived the cap: $capped")
    val uncapped = Dedup.ngramJaccard(docs, tau = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val highCap = Dedup.ngramJaccard(docs, tau = 0.01, maxShingleDf = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highCap == uncapped, "cap above max DF must not change output")
  }

  test("simhash: identical docs get identical hash, near dups are close") {
    val h = Dedup.simhash(docsWithPlantedDup)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 10,
      "near-dup hamming too large")
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) > 10,
      "unrelated docs suspiciously close")
  }

  test("simhash pairs returns the planted dup with hamming 0") {
    val pairs = Dedup.simhashPairs(docsWithPlantedDup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0), s"got ${pairs.toSeq}")
  }

  // Recall floors are measured-minus-margin, not aspirational: at the
  // default operating point (8 tables × 4 planes LSH; 16-cell IVF with
  // nProbe=4) measured recall@5 is deterministic per dataset —
  //   ANN: 0.72 @ sf0.001, 0.68 @ sf0.01, 0.82 @ sf0.1, 0.80 @ 10×
  //   IVF: 0.94 @ sf0.001, 0.92 @ sf0.01, 1.00 @ sf0.1, 1.00 @ 10×
  // (probed round 7 across all four scale points). Floors sit ~0.1
  // under the worst measured point so data regeneration noise passes
  // but a real parameter/algorithm regression (which moves recall far
  // more than 0.1) fails. nProbe=8 lifts IVF to 0.94–1.00 where an
  // application needs more.
  test("ANN LSH recall@5 vs brute force") {
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.cosineTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall@5 below measured floor: $recall")
  }

  test("IVF ANN recall@5 vs brute force") {
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.cosineTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall@5 below measured floor: $recall")
  }

  test("IVF with trained centroids: recall holds the fixed-seed floor; occupancy improves") {
    import org.apache.spark.sql.functions.max
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.cosineTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the production composition: kmeansTrain's codebook plugged
    // straight into the IVF assignment (the q106 precedent on the
    // ANN path) — recall must hold the same floor the seed layout
    // carries
    val trained = Similarity.ivfTopKTrained(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & trained).size.toDouble / exact.size
    assert(recall >= 0.8, s"trained-IVF recall@5 below the fixed-seed floor: $recall")
    // the occupancy lesson (q27→q106), measured on the ANN path via
    // q119's manifest: Lloyd rounds rebalance the layout, so the
    // trained quantizer's fullest cell must not exceed the seed
    // layout's fullest cell
    def maxOcc(centroids: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.cellManifest(emb, nCells = 16, centroids = centroids)
        .agg(max("n_vectors")).head().getLong(0)
    val seedOcc = maxOcc(None)
    val trainedOcc = maxOcc(Some(Similarity.kmeansTrain(emb, kCents = 16)))
    info(s"max cell occupancy: seed $seedOcc, trained $trainedOcc")
    assert(trainedOcc <= seedOcc,
      s"training must not worsen the worst cell: seed $seedOcc -> trained $trainedOcc")
  }

  test("semdedup prune: keepers complement q106's dominated set; tau extremes degenerate") {
    import org.apache.spark.sql.functions.min
    val emb = Tables.embeddings(spark, dir)
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    // the dominated rule IS "appears as vec_b in a >=tau cell pair":
    // keepers must be exactly the complement of q106's vec_b set at
    // the same (nCells, tau) operating point
    val dominated = Dedup.embeddingNearDupSeeded(emb)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    val keep = Dedup.semdedupPrune(emb)
      .collect().map(_.getLong(0)).toSet
    assert(keep == all -- dominated,
      s"keeper set diverges from q106 complement: ${(keep -- (all -- dominated)).take(5)}")
    // tau > 1: nothing is cosine-similar, everything survives
    val keepEverything = Dedup.semdedupPrune(emb, tau = 1.01)
      .collect().map(_.getLong(0)).toSet
    assert(keepEverything == all)
    // tau <= -1: every cell-mate dominates, only the min id per cell
    // survives (the q23 keep-min-id shape)
    graft.functions.Registry.ensure(spark)
    val q = emb.select(col("vec_id"), graft.functions.Vec.quantize(col("embedding")).as("v"))
    val minPerCell = Similarity.assignCells(q, Similarity.seedCentroids(q, 32))
      .groupBy("cid").agg(min("vec_id").as("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val keepMin = Dedup.semdedupPrune(emb, tau = -1.01)
      .collect().map(_.getLong(0)).toSet
    assert(keepMin == minPerCell,
      s"tau=-1 keepers are not the per-cell min ids: ${(keepMin -- minPerCell).take(5)}")
  }

  test("recall holds at the 10× scale point: q25 prod-K LSH, q29 ANN, q45 IVF") {
    // bucket occupancy — LSH band collisions, hyperplane buckets, IVF
    // cell sizes — changes with corpus size, so the small-SF recall
    // specs above don't by themselves certify the 10× point; this
    // runs the same exact-baseline comparisons against the generated
    // 10× data (tools/gen_sf1.py → /tmp/sf1) and cancels if absent
    // gen_sf1.py writes _MANIFEST.json LAST, so its presence
    // certifies a completed generation; the row-count cross-check
    // catches a stale manifest sitting over re-generated or
    // truncated parquet (a half-written sf1 must cancel, not grade
    // green-ish — round-7 verdict item 8)
    val dir10 = "/tmp/sf1"
    val manifest = new java.io.File(s"$dir10/_MANIFEST.json")
    assume(manifest.exists(),
      "10× scale point absent or incomplete — python3 tools/gen_sf1.py")
    val mtxt = new String(java.nio.file.Files.readAllBytes(manifest.toPath))
    def declared(t: String): Long =
      ("\"" + t + "\":\\s*(\\d+)").r.findFirstMatchIn(mtxt)
        .map(_.group(1).toLong).getOrElse(-1L)
    assume(
      spark.read.parquet(s"$dir10/documents.parquet").count() ==
        declared("documents") &&
      spark.read.parquet(s"$dir10/embeddings.parquet").count() ==
        declared("embeddings"),
      "10× manifest inconsistent with data — rerun python3 tools/gen_sf1.py")
    val docs = Tables.documents(spark, dir10)
    val exactPairs = Dedup.ngramJaccard(docs, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "spec vacuous: no high-jaccard pairs at 10×")
    val prod = Dedup.minhashLsh(docs,
        k = Dedup.ProdMinHashK, bands = Dedup.ProdBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(prod),
      s"production-K LSH lost true pairs at 10×: ${(exactPairs -- prod).take(5)}")
    val emb = Tables.embeddings(spark, dir10)
    val exact = Similarity.cosineTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annRecall = (exact & ann).size.toDouble / exact.size
    assert(annRecall >= 0.6, s"ANN recall@5 degraded at 10×: $annRecall " +
      "(measured 0.80 at the 10× point, round 7)")
    val ivf = Similarity.ivfTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    assert(ivfRecall >= 0.8, s"IVF recall@5 degraded at 10×: $ivfRecall " +
      "(measured 1.00 at the 10× point, round 7)")
    val ivfT = Similarity.ivfTopKTrained(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfTRecall = (exact & ivfT).size.toDouble / exact.size
    assert(ivfTRecall >= 0.8,
      s"trained-IVF recall@5 below the fixed-seed floor at 10×: $ivfTRecall")
    // q26: band-blocking recall is pigeonhole-guaranteed (hamming<=3
    // implies >=1 of 4 16-bit bands agree), but execute it at 10×
    // anyway: every exact-dup pair (identical text => hamming 0) must
    // surface
    val dupPairs = Dedup.exact(docs).filter(col("n_copies") >= 2)
      .select(col("content_hash")).collect().map(_.getString(0)).toSet
    if (dupPairs.nonEmpty) {
      val byHash = docs.select(md5(col("text")).as("h"), col("doc_id"))
        .collect().groupBy(_.getString(0)).view
        .mapValues(_.map(_.getLong(1)).sorted).toMap
      val expect = dupPairs.flatMap { h =>
        val ids = byHash(h).toSeq
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }
      val sim = Dedup.simhashPairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expect.subsetOf(sim),
        s"simhash blocking lost exact-dup pairs at 10×: ${(expect -- sim).take(5)}")
    }
    // q107: the keeper/dominated complement must hold where the
    // anti-join actually shuffles (32 cells over 10× occupancy)
    val all10 = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val dominated10 = Dedup.embeddingNearDupSeeded(emb)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    val keep10 = Dedup.semdedupPrune(emb)
      .collect().map(_.getLong(0)).toSet
    assert(keep10 == all10 -- dominated10,
      "q107 keeper set diverges from the q106 complement at 10×")
  }

  test("substring dedup: xxhash64 fingerprints match the md5 path") {
    val docs = Tables.documents(spark, dir)
    val a = Dedup.substringDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = Dedup.substringDedup(docs, hashFingerprints = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b, "8-byte fingerprint path changed the duplication profile")
  }

  test("streaming rollup equals batch rollup") {
    val batch = EventStream.batchRollup(Tables.events(spark, dir))
    val stream = MemorySink.drain(EventStream.windowRollup(
      EventStream.readEventStream(spark, dir), watermarked = true),
      "complete", "rollup_spec")
    val b = batch.collect().map(_.toSeq).toSet
    val s = stream.collect().map(_.toSeq).toSet
    assert(b == s, s"stream/batch mismatch: missing=${(b -- s).take(3)} extra=${(s -- b).take(3)}")
  }

  test("native LongDotProduct matches HOF dot product on real embeddings") {
    import org.apache.spark.sql.functions.col
    graft.functions.Registry.ensure(spark)
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), graft.functions.Vec.quantize(col("embedding")).as("v"))
    val diff = q.select(
        (graft.functions.Vec.dotQ(col("v"), col("v")) -
         VecHof.dotQ(col("v"), col("v"))).as("d"))
      .filter(col("d") =!= 0L).count()
    assert(diff == 0)
  }

  test("r19 native vector kernels match their HOF twins on real embeddings") {
    import org.apache.spark.sql.functions.{aggregate, col, element_at, lit, sequence, slice, struct, transform, typedlit, zip_with, array_min}
    graft.functions.Registry.ensure(spark)
    val emb = Tables.embeddings(spark, dir)
    // quantize: native == transform(floor(x*1000)) elementwise
    val qdiff = emb.select(
        graft.functions.Vec.quantize(col("embedding")).as("a"),
        VecHof.quantize(col("embedding")).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(qdiff == 0, "graft_quantize diverged from the HOF twin")
    val q = emb.select(col("vec_id"),
      graft.functions.Vec.quantize(col("embedding")).as("v"))
    // sqd2: native == aggregate(zip_with square-diff) on every pair
    // of (vector, shifted vector) rows
    val s = q.limit(64).collect().map(_.getSeq[Long](1))
    val cents = s.take(16).toIndexedSeq
    val centsLit = typedlit(cents.map(_.toList).toList)
    val d2diff = q.select(
        graft.functions.Vec.sqd2(col("v"), element_at(centsLit, 3)).as("a"),
        VecHof.sqd2(col("v"), element_at(centsLit, 3)).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(d2diff == 0, "graft_sqd2 diverged from the HOF twin")
    // nearestCode: native argmin == array_min(transform(struct)) rule
    def d2c(sv: org.apache.spark.sql.Column, cv: org.apache.spark.sql.Column) =
      aggregate(zip_with(sv, cv, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val hofBest = array_min(transform(sequence(lit(0), lit(cents.size - 1)),
      c => struct(d2c(col("v"), element_at(centsLit, c + 1)).as("d2"),
        c.as("cid"))))("cid")
    val ncdiff = q.select(
        graft.functions.Vec.nearestCode(col("v"), centsLit).as("a"),
        hofBest.as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(ncdiff == 0, "graft_nearest_code diverged from the HOF argmin")
    // vecSub: native == zip_with subtraction
    val vsdiff = q.select(
        graft.functions.Vec.subQ(col("v"), element_at(centsLit, 2)).as("a"),
        zip_with(col("v"), element_at(centsLit, 2), (x, y) => x - y).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(vsdiff == 0, "graft_vec_sub diverged from the HOF twin")
    // ragged/mismatch edges: sqd2 NULL, nearestCode null-d2-first
    // tie-break, vecSub pad-to-max semantics, empty table → NULL
    import spark.implicits._
    val ragged = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    assert(ragged.select(graft.functions.Vec.sqd2($"a", $"b"))
      .collect()(0).isNullAt(0))
    assert(ragged.select(graft.functions.Vec.subQ($"a", $"b"))
      .collect()(0).getSeq[Any](0) == Seq(0L, 0L, null))
    val mixed = typedlit(List(List(9L, 9L, 9L), List(1L, 2L))) // slot 1 ragged
    val win = Seq(Tuple1(Seq(1L, 2L))).toDF("v")
      .select(graft.functions.Vec.nearestCode($"v", mixed)).collect()(0)
    // HOF rule: null d2 (ragged slot 0 vs len-2 v) sorts FIRST
    assert(win.getInt(0) == 0,
      s"null-d2 slot must win the argmin like the HOF struct ordering: $win")
    val empty = Seq(Tuple1(Seq(1L, 2L))).toDF("v")
      .select(graft.functions.Vec.nearestCode($"v",
        typedlit(List.empty[List[Long]]))).collect()(0)
    assert(empty.isNullAt(0), "empty centroid table must yield NULL")
  }

  test("r19 driver-resident Lloyd loop is bit-identical to the DataFrame-resident formulation") {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, posexplode, sum}
    graft.functions.Registry.ensure(spark)
    val emb = Tables.embeddings(spark, dir)
    val q = emb.select(col("vec_id"),
      graft.functions.Vec.quantize(col("embedding")).as("v"))
    // the pre-r19 loop, verbatim: broadcast-join assignment via
    // assignCells, grid-requantized means via centroidsOf, empty-cell
    // fallback via the left_outer join
    def oldLoop(seeds: org.apache.spark.sql.DataFrame,
                iters: Int): org.apache.spark.sql.DataFrame = {
      var cents = seeds.localCheckpoint(true)
      var i = 0
      while (i < iters) {
        val means = Similarity.assignCells(q, cents)
          .select(col("cid"), posexplode(col("v")).as(Seq("dim", "q")))
          .groupBy(col("cid"), col("dim"))
          .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
          .withColumn("new_mean", col("sum_q") * 1.0 / 1000.0 / col("n"))
        cents = cents.as("old")
          .join(Similarity.centroidsOf(means).as("upd"), Seq("cid"), "left_outer")
          .select(col("cid"),
            coalesce(col("upd.cv"), col("old.cv")).as("cv"))
          .coalesce(1).localCheckpoint(true)
        i += 1
      }
      cents
    }
    for (iters <- Seq(1, 3)) {
      val ref = oldLoop(Similarity.seedCentroids(q, 8), iters)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val got = Similarity.kmeansTrain(emb, kCents = 8, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == ref,
        s"driver-resident Lloyd diverged at iters=$iters")
    }
  }

  /** The pre-r20 dupClustersFrom, verbatim (r19 HEAD, Dedup.scala):
    * localCheckpointed undirected edges, per round a DataFrame
    * join + min-aggregate + left-join-back + eager checkpoint, with
    * the decimal(38,0) label-sum convergence certificate.
    */
  private def oldDupClusters(documents: org.apache.spark.sql.DataFrame,
                             maxIters: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, count, least, lit, min, sum}
    val near = Dedup.ngramJaccard(documents).select(col("doc_a"), col("doc_b"))
    val hashes = documents.select(col("doc_id"), md5(col("text")).as("h"))
    val keepers = hashes.groupBy(col("h")).agg(min(col("doc_id")).as("root"))
    val exactEdges = hashes.join(keepers, Seq("h"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
    val edges = near.union(exactEdges).distinct()
    val und = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(edges.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .localCheckpoint(true)
    var labels = documents.select(col("doc_id").as("node"), col("doc_id").as("label"))
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = und.join(labels, col("u") === col("node"))
        .groupBy(col("v"))
        .agg(min(col("label")).as("nbr_label"))
      labels = labels.join(nbrMin, col("node") === col("v"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .localCheckpoint(true)
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"), (col("node") === col("label")).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  test("r20 RDD-resident label propagation is row-identical to the DataFrame formulation") {
    for (docs <- Seq(docsWithPlantedDup, Tables.documents(spark, dir))) {
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      val ref = oldDupClusters(docs).collect().map(key).toSeq
      val got = Dedup.dupClusters(docs).collect().map(key).toSeq
      assert(got == ref, s"RDD label propagation diverged " +
        s"(first diff: ${got.zip(ref).find(p => p._1 != p._2).take(1)})")
    }
    // non-convergence fails loudly and still releases the loop state:
    // the chain 1-2-3 needs two rounds to settle, one is allowed
    import spark.implicits._
    val chain = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val near = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val err = intercept[IllegalArgumentException](
      Dedup.dupClustersFrom(chain, near, maxIters = 1))
    assert(err.getMessage.contains(
      "label propagation did not converge in 1 rounds"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "label propagation left its loop RDDs persisted after failing")
  }

  test("native dot product returns NULL on ragged vectors like the HOF twin") {
    import spark.implicits._
    graft.functions.Registry.ensure(spark)
    val df = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    val native = df.select(graft.functions.Vec.dotQ(
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).collect()(0)
    val hof = df.select(VecHof.dotQ(
      org.apache.spark.sql.functions.col("a"),
      org.apache.spark.sql.functions.col("b"))).collect()(0)
    assert(native.isNullAt(0) && hof.isNullAt(0),
      s"ragged vectors must yield NULL: native=$native hof=$hof")
  }

  test("multimodal decode: schema and deterministic features") {
    val docs = Tables.documents(spark, dir)
    val out = Multimodal.featurePipeline(docs)
    assert(out.columns.toSeq ==
      Seq("doc_id", "modality", "n_bytes", "f_len", "f_distinct_bytes", "f_mean_byte"))
    val rows = out.collect()
    assert(rows.length == docs.count())
    val (img, txt) = rows.partition(_.getString(1) == "image")
    // every 5th doc is the planted image shard — the REAL ppm decode
    // path runs at corpus scale, not only on spec-planted files
    assert(img.length == docs.filter(col("doc_id") % 5 === 0).count())
    assert(img.nonEmpty, "image shard must be non-empty")
    // text rows: payload length equals the extracted length feature
    assert(txt.forall(r => r.getLong(2).toDouble == r.getDouble(3)))
    // image rows: 13-byte header + 768 pixel bytes, and the decoder
    // really parsed them — f1/f2 are the raster dimensions, f3 the
    // red-channel mean (a byte mean, so within [0, 255])
    assert(img.forall { r =>
      r.getLong(2) == 13L + 768L &&
      r.getDouble(3) == 16.0 && r.getDouble(4) == 16.0 &&
      r.getDouble(5) >= 0.0 && r.getDouble(5) <= 255.0 })
  }

  /** Build a PPM P6 payload: header (with a comment line, exercising
    * the comment-skip path) + packed RGB triples.
    */
  private def ppm(w: Int, h: Int, maxval: Int,
                  px: Seq[(Int, Int, Int)]): Array[Byte] = {
    val header = s"P6\n# planted by spec\n$w $h\n$maxval\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    header ++ px.flatMap { case (r, g, b) =>
      Seq(r.toByte, g.toByte, b.toByte) }.toArray
  }

  test("ppm decode: header fields and pixel bytes are exact") {
    val img = Multimodal.MediaDecoder.decodePpm(
      ppm(2, 1, 255, Seq((10, 20, 30), (40, 50, 60)))).get
    assert((img.width, img.height, img.maxval) == ((2, 1, 255)))
    assert(img.pixels.toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
  }

  test("ppm decode: mean-pooled features are the pinned values") {
    // 4×2, one constant color per 2×2-grid cell:
    //   cell0 (top-left  2px) = (0,0,0)        luma 0
    //   cell1 (top-right 2px) = (255,255,255)  luma 255
    //   cell2 (bot-left  2px) = (100,100,100)  luma 100
    //   cell3 (bot-right 2px) = (8,8,8)        luma 8
    val px = Seq.fill(2)((0, 0, 0)) ++ Seq.fill(2)((255, 255, 255)) ++
      Seq.fill(2)((100, 100, 100)) ++ Seq.fill(2)((8, 8, 8))
    val f = Multimodal.MediaDecoder.poolFeatures(
      Multimodal.MediaDecoder.decodePpm(ppm(4, 2, 255, px)).get)
    // per-channel mean = (2·0 + 2·255 + 2·100 + 2·8)/8 = 726/8 = 90.75
    assert(f.toSeq == Seq(4.0, 2.0, 90.75, 90.75, 90.75, 0.0, 8.0, 255.0),
      s"pooled features drifted: ${f.toSeq}")
  }

  test("pgm P5 decode: gray expands to uniform channels, luma equals gray") {
    // P5 "40 50" 2x1 grayscale: decode must yield r=g=b per pixel and
    // a truncated pixel section must still be a clean None
    val p5 = ("P5\n2 1\n255\n".getBytes("US-ASCII") :+ 40.toByte) :+ 50.toByte
    val img = Multimodal.MediaDecoder.decodePpm(p5).get
    assert((img.width, img.height, img.maxval) == ((2, 1, 255)))
    assert(img.pixels.toSeq == Seq[Byte](40, 40, 40, 50, 50, 50))
    val f = Multimodal.MediaDecoder.poolFeatures(img)
    assert(f(2) == 45.0 && f(3) == 45.0 && f(4) == 45.0,
      s"gray means not channel-uniform: ${f.toSeq}")
    assert(Multimodal.MediaDecoder.decodePpm(
      p5.dropRight(1)).isEmpty, "truncated P5 decoded")
  }

  test("ppm decode: malformed payloads decode to None, never a misread") {
    val d = Multimodal.MediaDecoder
    val good = ppm(2, 2, 255, Seq.fill(4)((1, 2, 3)))
    assert(d.decodePpm(good).isDefined)
    // wrong magic (P4 bitmap stays out of scope; P5 now decodes)
    assert(d.decodePpm("P4\n2 2\n255\n".getBytes ++ good.drop(12)).isEmpty)
    // truncated pixel section
    assert(d.decodePpm(good.dropRight(1)).isEmpty)
    // 2-byte samples (maxval > 255) are out of scope even with ample bytes
    assert(d.decodePpm(
      "P6\n2 2\n65535\n".getBytes ++ Array.fill(24)(1.toByte)).isEmpty)
    assert(d.decodePpm(Array.empty[Byte]).isEmpty)
    // undecodable image payload surfaces as the -1 marker vector
    val feats = d.decodeBatch(Iterator((7L, "image", good.dropRight(1)))).toSeq
    assert(feats.head.features.forall(_ == -1.0))
  }

  test("ppm decode: image modality flows through the Dataset pipeline") {
    import spark.implicits._
    val payload = ppm(4, 2, 255,
      Seq.fill(2)((0, 0, 0)) ++ Seq.fill(2)((255, 255, 255)) ++
        Seq.fill(2)((100, 100, 100)) ++ Seq.fill(2)((8, 8, 8)))
    val df = Seq((42L, "image", payload))
      .toDF("doc_id", "modality", "payload")
    val out = Multimodal.decodeFeatures(df).collect()
    assert(out.length == 1 && out.head.doc_id == 42L)
    assert(out.head.features.toSeq ==
      Seq(4.0, 2.0, 90.75, 90.75, 90.75, 0.0, 8.0, 255.0))
  }

  // ---- q122 lineDedup: keep-first span dedup with reconstruction ----

  test("q122 line dedup keeps exactly the first occurrence of every span") {
    import spark.implicits._
    // 10-token docs tile into two 5-token spans; doc 11 re-crawls doc
    // 10's opening span, doc 12 is pure boilerplate (both spans are
    // doc 10's second span — including an IN-DOC repeat)
    val docs = Seq(
      (10L, "a b c d e f g h i j", "en", "s", 19L),
      (11L, "a b c d e x y z w v", "en", "s", 19L),
      (12L, "f g h i j f g h i j", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.lineDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(out == Seq(
      (10L, 2L, 2L, "a b c d e f g h i j"),
      (11L, 2L, 1L, "x y z w v"),
      (12L, 2L, 0L, "")),
      s"keep-first span dedup mismatch: $out")
  }

  test("q122 partial tail span tiles the full text (n_spans = ceil)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g", "en", "s", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.lineDedup(docs).collect().head
    assert(r.getLong(1) == 2L, "7 tokens must tile into ceil(7/5)=2 spans")
    assert(r.getString(3) == "a b c d e f g",
      "unique spans must reconstruct the original text exactly")
  }

  test("q122 corpus invariant: kept spans == distinct spans, text is a sub-tiling") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val out = Dedup.lineDedup(docs).cache()
    try {
      // per-doc sanity: kept <= total, empty text iff kept == 0
      assert(out.filter(col("kept_spans") > col("n_spans")).count() == 0)
      assert(out.filter((col("kept_spans") === 0) =!=
        (col("dedup_text") === "")).count() == 0)
      // corpus identity: every span survives exactly once, so the sum
      // of kept spans equals the number of DISTINCT spans
      val kept = out.agg(sum("kept_spans")).head().getLong(0)
      val distinctSpans = docs
        .withColumn("w", split(trim(col("text")), "\\s+"))
        .select(explode(transform(
          sequence(lit(0), ceil(size(col("w")) / lit(5.0)).cast("int") - 1),
          p => concat_ws(" ", slice(col("w"), p * 5 + 1, lit(5))))).as("s"))
        .select("s").distinct().count()
      assert(kept == distinctSpans,
        s"kept=$kept != distinct spans=$distinctSpans")
    } finally out.unpersist()
  }

  test("q122 production hash keys produce identical output to string keys") {
    val docs = Tables.documents(spark, dir)
    def sig(hash: Boolean) = Dedup.lineDedup(docs, hashKeys = hash)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(sig(true) == sig(false),
      "xxhash64 span keys changed the keep-first output")
  }

  // ---- q127 dedupKeepBestLsh: keep-best over the MinHash path ----

  test("q127 clusters the planted exact+near dups through LSH edges and keeps the best") {
    import org.apache.spark.sql.functions.col
    // docs 1/2 byte-identical, 3 a near-dup, 4 unrelated (the corpus
    // every LSH spec here plants): the sketch path must produce the
    // same retention DECISION STRUCTURE as the exact path — one
    // cluster {1,2,3} with a single keeper, {4} keeping itself
    val out = Dedup.dedupKeepBestLsh(docsWithPlantedDup).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toSeq.sortBy(_._1)
    assert(out.map(t => (t._1, t._2, t._3)) == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L)),
      s"LSH cluster structure mismatch: $out")
    assert(out.count(_._4) == 2, s"expected exactly 2 keepers: $out")
    // and the decision agrees with the exact-path twin on this corpus
    val exact = Dedup.dedupKeepBest(docsWithPlantedDup).collect()
      .map(r => (r.getLong(0), r.getBoolean(4))).toMap
    assert(out.forall(t => exact(t._1) == t._4),
      "LSH keep decision diverged from the exact twin on the planted corpus")
  }

  test("q127 corpus invariants: one row per doc, one keeper per cluster, keeper is the argmax") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val out = Dedup.dedupKeepBestLsh(docs).cache()
    try {
      assert(out.count() == docs.count(), "one decision row per document")
      val perCluster = out.groupBy(col("cluster_id"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          max(when(col("keep"), col("quality"))).as("kept_q"),
          max(col("quality")).as("max_q"))
      assert(perCluster.filter(col("n_keep") =!= 1L).count() == 0,
        "a cluster kept != 1 document")
      assert(perCluster.filter(col("kept_q") < col("max_q")).count() == 0,
        "a keeper is not its cluster's quality argmax")
      // exact-dup groups (same md5) must never split across clusters:
      // the exact edges are unioned in regardless of the sketch
      val split = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .join(out.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
        .groupBy(col("h"))
        .agg(countDistinct(col("cluster_id")).as("nc"))
        .filter(col("nc") > 1)
      assert(split.count() == 0, "an exact-dup group split across LSH clusters")
    } finally out.unpersist()
  }

  // ---- q125 imageNearDup: perceptual-hash image dedup ----

  /** A 16×16 P6 payload with the given pixel-byte generator. */
  private def ppm16(px: Int => Int): Array[Byte] =
    ("P6\n16 16\n255\n").getBytes("ASCII") ++
      Array.tabulate(768)(i => (px(i) & 0xFF).toByte)

  test("q125 dHash is exactly invariant under uniform brightness shift; distinct images separate") {
    import graft.operators.Multimodal.MediaDecoder
    // pseudo-random pixels capped at 240 so +10 never clamps
    val rng = new scala.util.Random(11)
    val base = Array.fill(768)(rng.nextInt(241))
    val img = MediaDecoder.decodePpm(ppm16(base(_))).get
    val brighter = MediaDecoder.decodePpm(ppm16(i => base(i) + 10)).get
    assert(MediaDecoder.dHash(img) == MediaDecoder.dHash(brighter),
      "brightness shift changed the dHash — the cross-multiplied " +
        "integer compare should cancel a uniform +c exactly")
    // a genuinely different image (reversed pixel stream) must be far
    // in hamming space — the separation side of the invariance claim
    val other = MediaDecoder.decodePpm(ppm16(i => base(767 - i))).get
    val d = java.lang.Long.bitCount(
      MediaDecoder.dHash(img) ^ MediaDecoder.dHash(other))
    assert(d > 3, s"distinct images landed within the near-dup radius: hamming $d")
  }

  test("q125 planted pipeline: identical-text images collide at hamming 0, different text does not") {
    import spark.implicits._
    // ids 0/5/10 all land in the image shard (doc_id % 5 == 0)
    val textA = "the quick brown fox jumps over the lazy dog and keeps going for a while"
    val textB = "zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq"
    val docs = Seq(
      (0L, textA, "en", "s", textA.length.toLong),
      (5L, textA, "en", "s", textA.length.toLong),
      (10L, textB, "en", "s", textB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.imageNearDup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((0L, 5L, 0L)),
      s"planted image collision mismatch: $out")
  }

  test("q125 hot-band cap drops the degenerate-band blob but keeps diverse-band pairs") {
    import spark.implicits._
    // six hashes, all sharing zeroed bands 2-3 (the uniform-region
    // degenerate case); docs 1/2 identical (agree on the diverse band
    // 0), docs 3-6 far apart everywhere else
    val h12 = 0x1234L | (0xABCDL << 16)
    val hashes = (Seq((1L, h12), (2L, h12)) ++
      Seq(3L -> 0x00FFL, 4L -> 0xFF00L, 5L -> 0x0F0FL, 6L -> 0xF0F0L)
        .map { case (id, b0) => (id, b0 | (id * 0x1111L) << 16) })
      .toDF("doc_id", "dhash")
    val capped = Dedup.hammingBandPairs(hashes, "dhash",
        maxHamming = 3, maxBandDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(capped == Seq((1L, 2L, 0L)),
      s"capped banding mismatch: $capped")
    // without the cap the verify stage filters the same blob — the cap
    // changes candidate COST, not this corpus's output
    val uncapped = Dedup.hammingBandPairs(hashes, "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(uncapped == capped, s"cap changed output: $uncapped vs $capped")
  }

  test("q125 undecodable image payloads are dropped, not hashed") {
    import spark.implicits._
    import graft.operators.Multimodal
    val df = Seq(
      (0L, "image", "P6\n2 2\n255\n".getBytes("ASCII") ++ Array.fill[Byte](12)(7)),
      (5L, "image", "NOT A PPM".getBytes("ASCII")),
      (7L, "text", "hello".getBytes("ASCII")))
      .toDF("doc_id", "modality", "payload")
    val ids = Multimodal.imageDHashes(df).collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L), s"unexpected hash rows: $ids")
  }

  // ---- q133 imageNearDupPhash: DCT-pHash image dedup ----

  /** A P6 payload of arbitrary dimensions. */
  private def ppmWH(w: Int, h: Int)(px: Int => Int): Array[Byte] =
    (s"P6\n$w $h\n255\n").getBytes("ASCII") ++
      Array.tabulate(w * h * 3)(i => (px(i) & 0xFF).toByte)

  test("q133 pHash is exactly invariant under uniform brightness shift in both pooling regimes") {
    import graft.operators.Multimodal.MediaDecoder
    val rng = new scala.util.Random(17)
    // 64×64 exercises box pooling (w > 32); 16×16 the NN-replication
    // branch (w < 32) — the integer centering must cancel +c in both
    for (dim <- Seq(64, 16)) {
      val base = Array.fill(dim * dim * 3)(rng.nextInt(241))
      val img = MediaDecoder.decodePpm(ppmWH(dim, dim)(base(_))).get
      val brighter =
        MediaDecoder.decodePpm(ppmWH(dim, dim)(i => base(i) + 10)).get
      assert(MediaDecoder.pHash(img) == MediaDecoder.pHash(brighter),
        s"brightness shift changed the pHash at $dim×$dim — the " +
          "integer DC-rejection centering should cancel +c exactly")
      val other =
        MediaDecoder.decodePpm(ppmWH(dim, dim)(i => base(base.length - 1 - i))).get
      val d = java.lang.Long.bitCount(
        MediaDecoder.pHash(img) ^ MediaDecoder.pHash(other))
      assert(d > 3,
        s"distinct $dim×$dim images landed within the near-dup radius: hamming $d")
    }
  }

  test("q133 pHash collides bit-for-bit on a 2× nearest-neighbor upscale; dHash drifts on the same pair") {
    import graft.operators.Multimodal.MediaDecoder
    val rng = new scala.util.Random(23)
    val base = Array.fill(16 * 16 * 3)(rng.nextInt(256))
    val orig = MediaDecoder.decodePpm(ppmWH(16, 16)(base(_))).get
    // nearest-neighbor 2× upscale: pixel (x,y) = orig(x/2, y/2) — the
    // thumbnail-vs-original pair an image corpus is full of
    val up = MediaDecoder.decodePpm(ppmWH(32, 32) { i =>
      val p = i / 3; val ch = i % 3
      base(((p / 32 / 2) * 16 + (p % 32) / 2) * 3 + ch)
    }).get
    assert(MediaDecoder.pHash(orig) == MediaDecoder.pHash(up),
      "pHash must be EXACTLY resolution-free across an integer NN " +
        "upscale: cell gx of the 32-grid reads pixel gx → orig(gx/2) " +
        "on the upscale and pixel floor(gx/2) on the original — the " +
        "same byte")
    // dHash's fixed 9-column grid splits 16 and 32 pixels at
    // different pixel boundaries, so the same pair drifts — measured
    // hamming 9 on this pair, OUTSIDE the radius-3 near-dup band:
    // q125 alone genuinely misses the thumbnail pair q133 catches
    // at 0, the exact capability gap this operator closes
    val dDrift = java.lang.Long.bitCount(
      MediaDecoder.dHash(orig) ^ MediaDecoder.dHash(up))
    info(s"dHash hamming across the same 2× upscale: $dDrift")
    assert(dDrift > 3,
      s"dHash within the near-dup radius ($dDrift) across the " +
        "upscale — the q133 capability-gap claim needs re-measuring")
  }

  test("q133 planted pipeline: identical-text images AND the rendition sidecar collide at hamming 0") {
    import spark.implicits._
    import graft.operators.Multimodal.ThumbIdBase
    val textA = "the quick brown fox jumps over the lazy dog and keeps going for a while"
    val textB = "zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq"
    val docs = Seq(
      (0L, textA, "en", "s", textA.length.toLong),
      (5L, textA, "en", "s", textA.length.toLong),
      (10L, textB, "en", "s", textB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // doc 0 (≡0 mod 35) carries a 2× rendition under ThumbIdBase, so
    // the hamming-0 clique is {0, 5, thumb(0)}; doc 10's different
    // text stays out
    val out = Dedup.imageNearDupPhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((0L, 5L, 0L), (0L, ThumbIdBase, 0L),
        (5L, ThumbIdBase, 0L)),
      s"planted pHash collision mismatch: $out")
  }

  test("q133 corpus-level capability gap: every rendition pair found at hamming 0; dHash drops the majority on the same feed") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.ThumbIdBase
    val docs = graft.sources.Tables.documents(spark, dir)
    val feed = Multimodal.asMultimodalWithThumbs(docs)
    val expected = feed.filter(col("doc_id") >= ThumbIdBase)
      .select(col("doc_id")).collect()
      .map(r => (r.getLong(0) - ThumbIdBase, r.getLong(0))).toSet
    assert(expected.nonEmpty, "the sf corpus planted no renditions — widen ThumbEvery")
    val got = Dedup.imageNearDupPhash(docs)
      .filter(col("hamming") === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(got),
      s"q133 missed rendition pairs: ${expected -- got}")
    // the same feed through q125's dHash at the same radius: the
    // drift is content-dependent (measured 9 bits on the random-pixel
    // pair, less on low-texture rasters), so dHash catches SOME
    // rendition pairs — but pHash catches ALL of them at exactly 0,
    // and the pairs dHash drops are the measured reason q133 exists
    // (4/15 caught at this SF)
    val dPairs = Dedup.hammingBandPairs(
        Multimodal.imageDHashes(feed).localCheckpoint(true),
        "dhash", maxHamming = 3, maxBandDf = Dedup.MaxImageBandDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dMissed = expected -- dPairs
    info(s"dHash caught ${(expected intersect dPairs).size}/${expected.size} " +
      "rendition pairs; pHash caught all")
    assert(dMissed.nonEmpty,
      "dHash caught every rendition pair — the q133 capability-gap " +
        "claim needs re-measuring")
    assert(dMissed.size * 2 > expected.size,
      s"dHash missed only ${dMissed.size}/${expected.size} rendition " +
        "pairs — the gap narrowed; re-measure before claiming it")
  }

  // ---- q137 imageNearDupCrop: tiled crop-tolerant pHash dedup ----

  test("q137 pHashWindow is bit-exact against the standalone crop; the whole-frame pHash drifts across the same crop") {
    import graft.operators.Multimodal.MediaDecoder
    val rng = new scala.util.Random(31)
    for (dim <- Seq(16, 64)) {
      val base = Array.fill(dim * dim * 3)(rng.nextInt(256))
      val img = MediaDecoder.decodePpm(ppmWH(dim, dim)(base(_))).get
      val u = dim / 8
      // the central 75% window, re-encoded as a standalone image
      val cw = 6 * u
      val crop = MediaDecoder.decodePpm(ppmWH(cw, cw) { i =>
        val p = i / 3; val ch = i % 3
        base((((u + p / cw) * dim) + (u + p % cw)) * 3 + ch)
      }).get
      assert(MediaDecoder.pHashWindow(img, u, u, cw, cw) ==
        MediaDecoder.pHash(crop),
        s"window hash must equal the standalone crop's pHash at $dim×$dim " +
          "— the pooling grid reads byte-for-byte the same pixels")
      // and the capability gap is real: the whole-frame hash shifts
      // its grid against the pixels and leaves the near-dup radius
      val drift = java.lang.Long.bitCount(
        MediaDecoder.pHash(img) ^ MediaDecoder.pHash(crop))
      info(s"whole-frame pHash drift across a 75% crop at $dim×$dim: $drift")
      assert(drift > 3,
        s"whole-frame pHash survived the crop (hamming $drift) — the " +
          "q137 capability-gap claim needs re-measuring")
    }
  }

  test("q137 planted pipeline: the border-trim crop joins its original's clique at hamming 0") {
    import spark.implicits._
    import graft.operators.Multimodal.CropIdBase
    val textA = "the quick brown fox jumps over the lazy dog and keeps going for a while"
    val textB = "zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq wwwww mmmmm xxxxx zzzzz qqqqq"
    val docs = Seq(
      (0L, textA, "en", "s", textA.length.toLong),
      (5L, textA, "en", "s", textA.length.toLong),
      (10L, textB, "en", "s", textB.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // doc 0 (≡0 mod 25) carries its 75% border-trim crop under
    // CropIdBase; the crop's WHOLE hash equals tile 1 of any image
    // with doc 0's content, so the hamming-0 clique is {0, 5, crop(0)}
    // — doc 10's different text stays out, and the dot-padding tiles
    // that are identical across ALL three docs must NOT pair them
    // (the blank-window guard: uniform windows hash to 0, dropped)
    val out = Dedup.imageNearDupCrop(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out == Seq((0L, 5L, 0), (0L, CropIdBase, 0),
        (5L, CropIdBase, 0)),
      s"planted crop clique mismatch: $out")
  }

  test("q137 corpus-level: every planted crop pair found at hamming 0; whole-frame pHash drops the majority on the same feed") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.CropIdBase
    val docs = graft.sources.Tables.documents(spark, dir)
    val feed = Multimodal.asMultimodalWithCrops(docs)
    val expected = feed.filter(col("doc_id") >= CropIdBase)
      .select(col("doc_id")).collect()
      .map(r => (r.getLong(0) - CropIdBase, r.getLong(0))).toSet
    assert(expected.nonEmpty, "the sf corpus planted no crops — widen CropEvery")
    val got = Dedup.imageNearDupCrop(docs)
      .filter(col("hamming") === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(got),
      s"q137 missed crop pairs: ${expected -- got}")
    // the same feed through q133's whole-frame machinery at the same
    // radius: the crop shifts the 32×32 grid against the pixels, so
    // whole-frame pHash misses most crop pairs — the measured gap
    // this operator exists to close
    val wholePairs = Dedup.hammingBandPairs(
        Multimodal.imagePHashes(feed).localCheckpoint(true),
        "phash", maxHamming = 3, maxBandDf = Dedup.MaxImageBandDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = expected -- wholePairs
    info(s"whole-frame pHash caught ${(expected intersect wholePairs).size}/" +
      s"${expected.size} crop pairs; tiled caught all")
    assert(missed.size * 2 > expected.size,
      s"whole-frame pHash missed only ${missed.size}/${expected.size} " +
        "crop pairs — the gap narrowed; re-measure before claiming it")
  }

  // ---- q129 standing MinHash screen ----

  test("q129 two-batch merge-on-read decisions equal one-shot q127 exactly") {
    import graft.operators.MinhashStore
    val docs = Tables.documents(spark, dir)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    val store = mkTmp("graft_minhash_2b")
    MinhashStore.ingestTwoBatches(docs, store)
    assert(sig(MinhashStore.dedupKeepBestStored(docs, store)) ==
      sig(Dedup.dedupKeepBestLsh(docs)),
      "incremental band-table path diverged from one-shot keep-best-LSH")
  }

  test("q129 accumulated edges are arrival-order invariant (reversed batches, same decisions)") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(percentile_approx(col("doc_id"), lit(0.5),
      lit(100000))).head().getLong(0)
    val (b1, b2) = (docs.filter(col("doc_id") <= cut),
      docs.filter(col("doc_id") > cut))
    def edgesFor(first: org.apache.spark.sql.DataFrame,
                 second: org.apache.spark.sql.DataFrame) = {
      val firstBanded = Dedup.minhashBanded(first).localCheckpoint(true)
      val secondBanded = Dedup.minhashBanded(second).localCheckpoint(true)
      Dedup.minhashProbe(firstBanded, None)
        .unionByName(Dedup.minhashProbe(secondBanded, Some(firstBanded)))
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lowFirst = edgesFor(b1, b2)
    val highFirst = edgesFor(b2, b1)
    assert(lowFirst == highFirst && lowFirst.nonEmpty,
      s"edge log depends on arrival order: ${lowFirst.size} vs ${highFirst.size}")
    // and the accumulated log IS the one-shot edge set
    val oneShot = Dedup.minhashLsh(docs)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lowFirst == oneShot,
      "accumulated probe edges diverged from the one-shot LSH pair set")
  }

  test("q129 online screen is keep-first-ARRIVAL: the standing copy wins, even over a better late dup") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // batch 1: the early, LOWER-quality copy (id 30) plus an unrelated doc
    val early = Seq(
      (30L, base, "en", "s", 0L),
      (31L, "completely different words about spark query engines at scale", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // batch 2: a near-identical HIGHER-quality re-crawl with a LOWER
    // id (10), plus a within-batch dup pair (40 before 41)
    val late = Seq(
      (10L, base + " extended with more useful clean content", "en", "s", 0L),
      (40L, "unrelated batch two document with its own wording entirely", "en", "s", 0L),
      (41L, "unrelated batch two document with its own wording entirely", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val standing = Dedup.minhashBanded(early).localCheckpoint(true)
    val out1 = Dedup.minhashScreenBatch(early, None).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out1(30L)._1 && out1(31L)._1, s"first batch must all keep: $out1")
    val out2 = Dedup.minhashScreenBatch(late, Some(standing)).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // keep-first-arrival: doc 10 (lower id AND longer text) still
    // loses to standing doc 30 — arrival beats both id and quality
    assert(out2(10L) == ((false, 30L)),
      s"late dup must lose to the STANDING copy: ${out2(10L)}")
    // within-batch: min doc_id wins
    assert(out2(40L)._1 && out2(41L) == ((false, 40L)),
      s"within-batch dup must keep the first id: $out2")
  }

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

  private def rmRf(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("q129 store crash-replay is idempotent: a deleted commit marker replays to the identical store") {
    import graft.operators.MinhashStore
    val docs = Tables.documents(spark, dir)
    val store = mkTmp("graft_mh_replay")
    MinhashStore.ingestTwoBatches(docs, store)
    def snapshot() = (
      MinhashStore.committedIds(spark, store),
      MinhashStore.storedBands(spark, store).get.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getSeq[Long](3))).toSet,
      MinhashStore.storedEdges(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      MinhashStore.storedDecisions(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4))).toSet,
      MinhashStore.dedupKeepBestStored(docs, store).collect()
        .map(_.toSeq).toSeq)
    val before = snapshot()
    assert(before._1 == Seq(0L, 1L) && before._3.nonEmpty,
      "two committed segments with a non-empty edge log expected")
    // crash window A: everything written, marker lost — replay must
    // overwrite batch 1's segs with identical content and recommit
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/commits/1"))
    val cut = docs.agg(org.apache.spark.sql.functions.percentile_approx(
      col("doc_id"), org.apache.spark.sql.functions.lit(0.5),
      org.apache.spark.sql.functions.lit(100000))).head().getLong(0)
    val b2 = docs.filter(col("doc_id") > cut)
    MinhashStore.ingestBatch(b2, store, 1L)
    assert(snapshot() == before, "marker-loss replay changed the store")
    // crash window B: marker AND the edges segment lost (crash between
    // the bands write and the edges write) — replay must rebuild both
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/commits/1"))
    rmRf(s"$store/edges/seg=1")
    MinhashStore.ingestBatch(b2, store, 1L)
    assert(snapshot() == before, "partial-crash replay changed the store")
    // committed replay is a no-op (and must not fail)
    MinhashStore.ingestBatch(b2, store, 1L)
    assert(snapshot() == before, "committed replay changed the store")
    // an UNCOMMITTED id below committed history is refused — replaying
    // batch 0 after batch 1 committed would probe a standing table
    // that didn't exist at its first run (history rewrite)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/commits/0"))
    val err = intercept[IllegalArgumentException] {
      MinhashStore.ingestBatch(b2, store, 0L)
    }
    assert(err.getMessage.contains("refusing to rewrite history"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$store/commits/0"))
    assert(snapshot() == before, "the refused ingest touched the store")
  }

  test("q129 streaming ingest: the checkpointed sink's decisions and retention equal the batch path") {
    import spark.implicits._
    import graft.operators.MinhashStore
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, dir)
    val rows = docs.select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    val (a, b) = rows.splitAt(rows.length / 2)
    val store = mkTmp("graft_mh_stream")
    val ckpt = mkTmp("graft_mh_stream_ckpt")
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, String, Long)]
    def stream = ms.toDF.toDF("doc_id", "text", "lang", "source", "n_chars")
    // two arrivals, each a separate restart of the SAME checkpoint —
    // the streaming engine's batchIds are the ingest ledger
    ms.addData(a.toSeq)
    MinhashStore.ingestStreamOnce(stream, store, ckpt)
    ms.addData(b.toSeq)
    MinhashStore.ingestStreamOnce(stream, store, ckpt)
    assert(MinhashStore.committedIds(spark, store) == Seq(0L, 1L),
      "streaming ingest did not commit exactly the two engine batches")
    // a third restart with no new data must add nothing (restart
    // contract: resume offsets, find nothing, write nothing)
    MinhashStore.ingestStreamOnce(stream, store, ckpt)
    assert(MinhashStore.committedIds(spark, store) == Seq(0L, 1L),
      "an idle restart grew the store")
    // stored online decisions ≡ the sequential batch screen
    val aDf = a.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val bDf = b.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    def dec(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val expected = dec(Dedup.minhashScreenBatch(aDf, None)) ++
      dec(Dedup.minhashScreenBatch(bDf,
        Some(Dedup.minhashBanded(aDf).localCheckpoint(true))))
    assert(dec(MinhashStore.storedDecisions(spark, store)) == expected,
      "streamed store decisions diverged from the sequential batch screen")
    // and merge-on-read retention from the streamed store ≡ one-shot
    val got = MinhashStore.dedupKeepBestStored(docs, store).collect()
      .map(_.toSeq).toSeq
    assert(got == Dedup.dedupKeepBestLsh(docs).collect().map(_.toSeq).toSeq,
      "streamed-store retention diverged from one-shot keep-best-LSH")
  }

  test("q129 store compaction: segments fold to a base with every read identical; crash recovery finishes forward") {
    import spark.implicits._
    import graft.operators.MinhashStore
    val docs = Tables.documents(spark, dir)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).collect()
      .map(_.getLong(0))
    val store = mkTmp("graft_mh_compact")
    // four arrivals (quartile split) — enough fragmentation for the
    // inspect threshold to have a decision to make
    val qs = Seq(ids(ids.length / 4), ids(ids.length / 2),
      ids(3 * ids.length / 4))
    val batches = Seq(
      docs.filter(col("doc_id") <= qs(0)),
      docs.filter(col("doc_id") > qs(0) && col("doc_id") <= qs(1)),
      docs.filter(col("doc_id") > qs(1) && col("doc_id") <= qs(2)),
      docs.filter(col("doc_id") > qs(2)))
    batches.zipWithIndex.foreach { case (b, i) =>
      MinhashStore.ingestBatch(b, store, i.toLong)
    }
    def snapshot() = (
      MinhashStore.storedBands(spark, store).get.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getSeq[Long](3))).toSet,
      MinhashStore.storedEdges(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      MinhashStore.storedDecisions(spark, store).collect()
        .map(r => (r.getLong(0), r.getBoolean(4))).toSet,
      MinhashStore.dedupKeepBestStored(docs, store).collect()
        .map(_.toSeq).toSeq)
    val before = snapshot()
    def segsOf(sub: String) =
      Option(new java.io.File(s"$store/$sub").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("seg="))
        .map(_.getName.stripPrefix("seg=").toLong).sorted.toSeq
    assert(segsOf("bands") == Seq(0L, 1L, 2L, 3L),
      s"expected four band segments: ${segsOf("bands")}")
    // the scheduled stage: first run folds (4 > maxSegments 2,
    // keepNewest 1 → 0,1,2 fold into base seg=2), second run no-ops
    val m1 = graft.Pipeline.run(spark,
      Seq(MinhashStore.compactionStage(store, maxSegments = 2))).head()
    assert(m1.getAs[Boolean]("ok"), s"compaction stage failed: $m1")
    assert(segsOf("bands") == Seq(2L, 3L),
      s"fold must leave base seg=2 + newest seg=3: ${segsOf("bands")}")
    assert(MinhashStore.committedIds(spark, store) == Seq(0L, 1L, 2L, 3L),
      "compaction must never touch the commit ledger")
    assert(snapshot() == before, "compaction changed a stored read")
    assert(MinhashStore.compactStore(spark, store) == 0,
      "a freshly folded store has nothing to fold")
    // one file per (seg, band) survives the fold in the base segment
    val baseBands = new java.io.File(s"$store/bands/seg=2").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("band="))
    assert(baseBands.length == Dedup.Bands &&
      baseBands.forall(_.listFiles().count(f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) == 1),
      "the folded base segment broke the one-file-per-band law")
    // crash mid-finish: re-fold to a committed tmp, delete a folded
    // seg, leave the rename undone — a READER must return the
    // identical table by reading AROUND the crash (the committed tmp
    // stands in for seg=<target>) WITHOUT mutating anything (r19,
    // ADVICE: reader-side recovery could race an in-flight writer);
    // the next WRITER finishes the fold forward
    val bandsRoot = s"$store/bands"
    val tmp = new java.io.File(bandsRoot, "_compact_tmp")
    val folded = spark.read.option("basePath", bandsRoot)
      .parquet(s"$bandsRoot/seg=2", s"$bandsRoot/seg=3").drop("seg")
      .select(col("doc_id"), col("band_key"), col("sig"), col("band"))
    folded.repartition(col("band")).write.partitionBy("band")
      .mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.write(
      new java.io.File(tmp, "_COMPACT_TARGET").toPath, "3".getBytes())
    rmRf(s"$bandsRoot/seg=2") // the crash: target seg gone, tmp committed
    assert(MinhashStore.storedBands(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getSeq[Long](3))).toSet == before._1,
      "read-around of the mid-finish crash diverged from the table")
    assert(tmp.exists(),
      "a READ mutated the crashed fold — finishing forward is writer-class")
    assert(MinhashStore.compactStore(spark, store) == 0,
      "recovery-only compaction run must fold nothing new")
    assert(segsOf("bands") == Seq(3L) && !tmp.exists(),
      s"the writer must finish the rename: ${segsOf("bands")}")
    assert(MinhashStore.storedBands(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getSeq[Long](3))).toSet == before._1,
      "the finished fold changed the stored bands")
  }

  test("q129 compaction honors the commit ledger: uncommitted segments are never folded, dead ones are swept, pending ones survive") {
    import graft.operators.MinhashStore
    val docs = Tables.documents(spark, dir)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).collect()
      .map(_.getLong(0))
    val store = mkTmp("graft_mh_ledger")
    val (c1, c2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    // committed batches 0, 1, 3 — id 2 is deliberately skipped, the
    // slot a crashed uncommitted ingest would occupy
    MinhashStore.ingestBatch(docs.filter(col("doc_id") <= c1), store, 0L)
    MinhashStore.ingestBatch(
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2), store, 1L)
    MinhashStore.ingestBatch(docs.filter(col("doc_id") > c2), store, 3L)
    def snapshot() = (
      MinhashStore.storedBands(spark, store).get.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getSeq[Long](3))).toSet,
      MinhashStore.storedEdges(spark, store).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet,
      MinhashStore.storedDecisions(spark, store).collect()
        .map(r => (r.getLong(0), r.getBoolean(4))).toSet)
    val before = snapshot()
    // plant a DEAD uncommitted segment (id 2 < newest committed 3 —
    // the monotonic guard refuses its replay, so it can never commit)
    // with real rows copied from a committed segment: the ADVICE
    // failure mode was exactly these phantom rows reaching a folded
    // base and becoming reader-visible
    for (sub <- Seq("bands", "edges", "decisions")) {
      val src = s"$store/$sub/seg=0"
      if (new java.io.File(src).exists() &&
          new java.io.File(src).listFiles().exists(f =>
            f.getName.endsWith(".parquet")))
        spark.read.parquet(src).write.parquet(s"$store/$sub/seg=2")
      else new java.io.File(s"$store/$sub/seg=2").mkdirs()
    }
    // and a PENDING uncommitted segment (id 9 > newest committed — an
    // in-flight or crashed ingest awaiting replay): must survive
    spark.read.parquet(s"$store/bands/seg=0")
      .write.parquet(s"$store/bands/seg=9")
    assert(snapshot() == before,
      "uncommitted segments leaked into a committed read")
    def segsOf(sub: String) =
      Option(new java.io.File(s"$store/$sub").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("seg="))
        .map(_.getName.stripPrefix("seg=").toLong).sorted.toSeq
    // fold: committed ∩ on-disk minus the newest = {0, 1} → base seg=1;
    // seg=2 is swept as dead garbage, seg=9 is left for its replay
    assert(MinhashStore.compactStore(spark, store) == 2,
      "fold set must be the committed segments only")
    assert(segsOf("bands") == Seq(1L, 3L, 9L),
      s"expected dead seg swept, pending kept: ${segsOf("bands")}")
    assert(!new java.io.File(s"$store/edges/seg=2").exists() &&
      !new java.io.File(s"$store/decisions/seg=2").exists(),
      "dead uncommitted segments must be swept from every subdir")
    assert(snapshot() == before,
      "ledger-aware compaction changed a committed read")
    // the pending slot replays cleanly after the fold
    MinhashStore.ingestBatch(docs.filter(col("doc_id") <= c1), store, 9L)
    assert(MinhashStore.committedIds(spark, store) == Seq(0L, 1L, 3L, 9L))
  }

  test("q129 duplicate-free corpus: empty edge segments commit, read, and compact without a schema-inference crash") {
    import spark.implicits._
    import graft.operators.MinhashStore
    // 30 docs with pairwise-disjoint vocabularies: no shared shingle,
    // no candidate pair, EVERY edges segment is an empty write — the
    // ADVICE crash shape for the fold's parquet read
    val docs = (0L until 30L).map(i =>
      (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e")).toDF("doc_id", "text")
    val store = mkTmp("graft_mh_nodup")
    MinhashStore.ingestBatch(docs.filter($"doc_id" < 10), store, 0L)
    MinhashStore.ingestBatch(
      docs.filter($"doc_id" >= 10 && $"doc_id" < 20), store, 1L)
    MinhashStore.ingestBatch(docs.filter($"doc_id" >= 20), store, 2L)
    assert(MinhashStore.storedEdges(spark, store).count() == 0,
      "disjoint-vocabulary docs must produce no edges")
    val bandsBefore = MinhashStore.storedBands(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the fold: bands/decisions concatenate normally; edges' fold set
    // holds no data file at all — the path the old code fed to
    // spark.read.parquet and crashed with "Unable to infer schema"
    assert(MinhashStore.compactStore(spark, store) == 2)
    assert(MinhashStore.storedEdges(spark, store).count() == 0,
      "empty edge log must survive compaction as a typed empty frame")
    assert(MinhashStore.storedBands(spark, store).get.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      == bandsBefore, "compaction changed the band table")
    val dec = MinhashStore.storedDecisions(spark, store).collect()
    assert(dec.length == 30 && dec.forall(_.getBoolean(4)),
      "every unique doc must be kept")
    assert(MinhashStore.dedupKeepBestStored(docs, store).count() == 30,
      "merge-on-read retention must keep all unique docs")
  }

  test("q129 store layout: every band of every segment is one pruned partition file") {
    import graft.operators.MinhashStore
    val docs = Tables.documents(spark, dir)
    val store = mkTmp("graft_mh_layout")
    MinhashStore.ingestTwoBatches(docs, store)
    for (seg <- Seq(0, 1)) {
      val segDir = new java.io.File(s"$store/bands/seg=$seg")
      val bandDirs = segDir.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("band="))
      assert(bandDirs.length == Dedup.Bands,
        s"seg=$seg holds ${bandDirs.length} band partitions, " +
          s"expected ${Dedup.Bands}")
      for (bd <- bandDirs) {
        val files = bd.listFiles().filter(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        assert(files.length == 1,
          s"seg=$seg/${bd.getName} holds ${files.length} files — the " +
            "repartition(band) discipline must leave exactly one")
      }
    }
    // band is a partition column: a band-restricted maintenance read
    // is pruned I/O — numFiles == segments, not segments × bands
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val one = spark.read.option("basePath", s"$store/bands")
      .parquet(s"$store/bands/seg=0", s"$store/bands/seg=1")
      .filter(col("band") === 3)
    // execute THIS DataFrame's plan so its scan metrics are populated
    assert(one.collect().nonEmpty, "band 3 unexpectedly empty")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case ad: AdaptiveSparkPlanExec => scans(ad.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(one.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty,
      "band restriction did not become a PartitionFilter")
    assert(scan.metrics("numFiles").value == 2,
      s"band-pruned read touched ${scan.metrics("numFiles").value} " +
        "files, expected one per segment")
  }

  // ---- q124 exactSubstrRemoval: alignment-free substring removal ----

  test("q124 removes the offset duplicate that q122's fixed tiles provably miss") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, passage, "en", "s", 0L),
      (2L, "x " + passage, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // q122's 5-token tiles of doc 2 are all offset one token from doc
    // 1's, so the tile-aligned dedup keeps EVERYTHING — the provable
    // miss this operator exists to close
    val tiled = Dedup.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tiled(2L)._1 == tiled(2L)._2,
      s"q122 unexpectedly removed offset-duplicated spans: $tiled")
    // q124's rolling windows are alignment-free: every token of the
    // re-crawled passage is covered; only the junk prefix survives,
    // and the first copy (doc 1) is untouched
    val out = Dedup.exactSubstrRemoval(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(out == Seq(
      (1L, 12L, 0L, passage),
      (2L, 13L, 12L, "x")),
      s"offset-duplicate removal mismatch: $out")
  }

  test("q124 cuts an in-doc verbatim repeat, keeping the first copy") {
    import spark.implicits._
    // tokens 9..16 repeat tokens 1..8 exactly: the pos-9 window is the
    // only duplicated one (every other window straddles the boundary),
    // and it covers the whole second copy
    val docs = Seq(
      (1L, "a b c d e f g h a b c d e f g h", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.exactSubstrRemoval(docs).collect().head
    assert((r.getLong(1), r.getLong(2), r.getString(3)) ==
      ((16L, 8L, "a b c d e f g h")),
      s"in-doc repeat removal mismatch: $r")
  }

  test("q124 at the Lee-2022 production point k=50: long dup cut, short idiom survives") {
    import spark.implicits._
    // Lee et al. 2022 remove duplicated runs >= 50 tokens; k IS that
    // threshold (the covered-interval merge cuts any duplicated run
    // of >= k tokens in full). Plant both regimes in one corpus: a
    // 60-token passage re-crawled verbatim, and an 8-token idiom
    // repeated across otherwise-distinct documents — at k=50 the
    // passage is removed from the re-crawl while the idiom (a common
    // phrase, not a crawl duplicate) survives everywhere. At the
    // testdata point k=8 the idiom would be cut too — the over-
    // aggressive regime the scaladoc warns about, asserted here so
    // the contrast is measured, not prose.
    val passage = (1 to 60).map(i => s"w$i").mkString(" ")
    val idiom = "as a matter of fact it turns out"
    val docs = Seq(
      (1L, passage, "en", "s", 0L),
      (2L, "prefix " + passage, "en", "s", 0L),
      (3L, s"$idiom spark shuffles partition data", "en", "s", 0L),
      (4L, s"$idiom duckdb vectorizes scan batches", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val at50 = Dedup.exactSubstrRemoval(docs, k = 50).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(at50(1L) == ((0L, passage)), "first copy must be untouched")
    assert(at50(2L) == ((60L, "prefix")),
      s"60-token duplicated run must be cut in full at k=50: ${at50(2L)}")
    assert(at50(3L)._1 == 0L && at50(4L)._1 == 0L,
      s"8-token idiom is below the k=50 threshold and must survive: $at50")
    // the testdata point cuts the idiom's second occurrence — the
    // documented reason k=8 is NOT a production operating point
    val at8 = Dedup.exactSubstrRemoval(docs, k = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(at8(4L) == 8L,
      s"k=8 must cut the repeated idiom from the later doc: $at8")
  }

  test("q128 two-batch path returns empty on an empty corpus (no NPE on the median cut)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.exactSubstrRemovalTwoBatch(empty).count() == 0L,
      "empty corpus must short-circuit, not NPE on the NULL median")
  }

  test("q124 production hash keys produce identical output to md5 keys") {
    val docs = Tables.documents(spark, dir)
    def sig(hash: Boolean) = Dedup.exactSubstrRemoval(docs, hashFingerprints = hash)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(sig(true) == sig(false),
      "xxhash64 window keys changed the removal output")
  }

  test("q124 corpus invariants: token conservation, bounds, q98 screen consistency") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val out = Dedup.exactSubstrRemoval(docs).cache()
    try {
      assert(out.count() == docs.count(), "one row per document")
      assert(out.filter(col("removed_tokens") < 0 ||
        col("removed_tokens") > col("n_tokens")).count() == 0,
        "removal outside [0, n_tokens]")
      // conservation: the cleaned text holds exactly the kept tokens
      assert(out.filter(col("clean_text") =!= "")
        .filter(size(split(col("clean_text"), " ")) =!=
          col("n_tokens") - col("removed_tokens")).count() == 0,
        "clean_text token count != n_tokens - removed_tokens")
      // a doc q98 screens as fully unique ACROSS docs can still lose
      // tokens here only to an IN-DOC repeat; a doc with zero q98 dup
      // windows AND zero in-doc repeats must be untouched — checked
      // via the weaker corpus-level direction: every doc with
      // removed > 0 appears in q98's dup profile with dup_windows > 0
      // OR repeats a window internally (cnt > 1 for some fp)
      val q98dup = Dedup.substringDedup(docs)
        .filter(col("dup_windows") > 0).select(col("doc_id"))
      val inDoc = docs
        .withColumn("w", split(trim(col("text")), "\\s+"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("w")) - 7), i =>
            md5(concat_ws(" ", (0 until 8).map(j =>
              element_at(col("w"), i + j)): _*)))).as("fp"))
        .groupBy(col("doc_id"), col("fp")).count()
        .filter(col("count") > 1).select(col("doc_id")).distinct()
      val explained = q98dup.union(inDoc).distinct()
      val unexplained = out.filter(col("removed_tokens") > 0)
        .join(explained, Seq("doc_id"), "left_anti").count()
      assert(unexplained == 0,
        s"$unexplained docs lost tokens without any duplicated window")
    } finally out.unpersist()
  }

  // ---- q128 incremental ExactSubstr ----

  test("q128 incremental removal over ordered batches equals one-shot q124 exactly") {
    val docs = Tables.documents(spark, dir)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    // the declared two-batch split AND a production-keyed (hashed
    // fingerprints) three-batch split must both replay the one-shot
    // decisions — ordered arrival makes first-arrival ≡ global-first
    val oneShot = sig(Dedup.exactSubstrRemoval(docs))
    assert(sig(Dedup.exactSubstrRemovalTwoBatch(docs)) == oneShot,
      "two-batch incremental diverged from one-shot q124")
    import org.apache.spark.sql.functions.col
    val cuts = docs.select(col("doc_id")).orderBy(col("doc_id")).collect()
      .map(_.getLong(0))
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    val batches = Seq(
      docs.filter(col("doc_id") <= c1),
      docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
      docs.filter(col("doc_id") > c2))
    var standing: Option[org.apache.spark.sql.DataFrame] = None
    val cleaned = batches.map { b =>
      val out = Dedup.exactSubstrRemovalIncremental(b, standing,
        hashFingerprints = true)
      standing = Some(Dedup.mergedSubstrFirsts(b, standing,
        hashFingerprints = true).localCheckpoint(true))
      out
    }
    val threeBatch = cleaned.reduce(_.unionByName(_))
      .orderBy(col("doc_id"))
    assert(sig(threeBatch) == oneShot,
      "three-batch hashed-key incremental diverged from one-shot q124")
  }

  test("q128 out-of-order arrival is keep-first-ARRIVAL: a late lower-id batch cannot retract") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val early = Seq((10L, passage, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val late = Seq((1L, passage, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // doc 10 arrives FIRST and ships cleaned (keeps the passage); the
    // late doc 1 — lower id, but second to arrive — must lose it,
    // the CCNet online behavior (global-first would say otherwise)
    val out1 = Dedup.exactSubstrRemovalIncremental(early, None).collect()
    assert(out1.head.getLong(2) == 0L && out1.head.getString(3) == passage,
      s"first-arrived batch must keep its text: ${out1.head}")
    val firsts = Dedup.mergedSubstrFirsts(early, None).localCheckpoint(true)
    val out2 = Dedup.exactSubstrRemovalIncremental(late, Some(firsts)).collect()
    assert(out2.head.getLong(2) == 12L && out2.head.getString(3) == "",
      s"late re-arrival must be fully removed: ${out2.head}")
  }

  // ---- q123 dedupKeepBest: cluster-representative selection ----

  test("q123 keeps the higher-quality near-dup, not the lower id") {
    import spark.implicits._
    // docs 1/2 differ in the last token only (same 3-gram shingles up
    // front -> one q66 cluster); doc 2 carries one more stopword, so
    // its q31 quality is strictly higher and must win despite id 1 < 2
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s", 60L),
      (2L, "the quick brown fox jumps over the lazy dog again and the", "en", "s", 58L),
      (3L, "completely different words about spark query engines at scale", "en", "s", 61L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dedupKeepBest(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
      .toSeq
    assert(out.toSet == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 3L, 1L, true)),
      s"keep-best decision mismatch: $out")
  }

  test("q123 emits one row per doc and exactly one keeper per cluster") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
    val out = Dedup.dedupKeepBest(docs).cache()
    try {
      assert(out.count() == docs.count(), "one decision row per document")
      val perCluster = out.groupBy("cluster_id")
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          max(when(col("keep"), col("quality"))).as("kept_q"),
          max(col("quality")).as("max_q"))
      assert(perCluster.filter(col("n_keep") =!= 1L).count() == 0,
        "every cluster keeps exactly one doc")
      assert(perCluster.filter(col("kept_q") =!= col("max_q")).count() == 0,
        "the kept doc carries the cluster's max quality")
    } finally out.unpersist()
  }
}
