package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Ingest, Sampling, Similarity, TextAnalysis, TimeSeries}
import graft.sources.Tables

/** Invariant specs for the round-3 operators (q66-q75). Cross-engine
  * value correctness is the DuckDB oracle gate's job; these assert the
  * properties an oracle can't express: graph transitivity, sampling
  * determinism, Lloyd-step optimality, merge key semantics.
  */
class NewOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"

  test("dup clusters: every dedup edge's endpoints share a cluster id") {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dupClusters(docs)
      .select(col("doc_id"), col("cluster_id"))
    val pairs = Dedup.ngramJaccard(docs).select(col("doc_a"), col("doc_b"))
    val broken = pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("cluster_id", "ca"), Seq("doc_a"))
      .join(clusters.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("cluster_id", "cb"), Seq("doc_b"))
      .filter(col("ca") =!= col("cb"))
    assert(broken.count() == 0, "near-dup pair split across clusters")
  }

  test("dup clusters: cluster_id is the min member and sizes are consistent") {
    val cl = Dedup.dupClusters(Tables.documents(spark, dir))
    val bad = cl.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("min_doc"), count(lit(1)).as("n"))
      .filter(col("cluster_id") =!= col("min_doc"))
    assert(bad.count() == 0, "cluster label is not the min member id")
    val sizeBad = cl.groupBy(col("cluster_id"), col("cluster_size"))
      .agg(count(lit(1)).as("n"))
      .filter(col("cluster_size") =!= col("n"))
    assert(sizeBad.count() == 0, "cluster_size disagrees with membership count")
    // exactly one keeper per cluster, and it carries the cluster id
    val keepers = cl.filter(col("is_keeper"))
    assert(keepers.count() == cl.select("cluster_id").distinct().count())
  }

  test("dup clusters: a planted A~B~C chain collapses to one cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = base.split(" ")
    // B overlaps A and C heavily; A and C share almost nothing
    val a = b.take(7).mkString(" ")                  // alpha..eta
    val c = b.drop(3).mkString(" ")                  // delta..kappa
    val docs = Seq(
      (1L, a, "en", "s", a.length.toLong),
      (2L, base, "en", "s", base.length.toLong),
      (3L, c, "en", "s", c.length.toLong),
      (4L, "unrelated totally different words here now", "en", "s", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cl = Dedup.dupClusters(docs, tau = 0.2)
    val byDoc = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc(1L) == 1L && byDoc(2L) == 1L && byDoc(3L) == 1L,
      s"chain did not collapse: $byDoc")
    assert(byDoc(4L) == 4L, "unrelated doc joined the cluster")
  }

  test("stratified sample: deterministic, respects per-stratum rate") {
    val docs = Tables.documents(spark, dir)
    val fr = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25,
      "de" -> 0.125, "fr" -> 0.125)
    val s1 = Sampling.stratifiedSample(docs, fr).collect().map(_.getLong(0))
    val s2 = Sampling.stratifiedSample(docs, fr).collect().map(_.getLong(0))
    assert(s1.sameElements(s2), "sample is not deterministic")
    // observed rate within a loose binomial band per stratum
    val totals = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Sampling.stratifiedSample(docs, fr)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fr.foreach { case (lang, f) =>
      val n = totals(lang).toDouble
      val got = sampled.getOrElse(lang, 0L).toDouble
      val sd = math.sqrt(n * f * (1 - f))
      assert(math.abs(got - n * f) <= 4 * sd + 1,
        s"$lang: got $got of $n at fraction $f")
    }
    // fraction 1.0 keeps everything, 0.0 keeps nothing
    assert(Sampling.stratifiedSample(docs, Map("en" -> 1.0)).count()
      == totals("en"))
    assert(Sampling.stratifiedSample(docs, Map("en" -> 0.0)).count() == 0)
  }

  test("kmeans step: assignment is the true argmin and means partition the corpus") {
    val emb = Tables.embeddings(spark, dir)
    val step = Similarity.kmeansStep(emb, kCents = 8)
    // every (cid, dim) group counts the same n; total n over dim 0
    // equals the corpus size (every vector assigned exactly once)
    val n0 = step.filter(col("dim") === 0)
      .agg(sum(col("n"))).head().getLong(0)
    assert(n0 == emb.count(), "assignment does not partition the corpus")
    // Lloyd optimality on a spot-checked vector: its cluster's
    // centroid must be the nearest of the 8 by quantized L2
    import graft.functions.Vec
    val q = emb.select(col("vec_id"), Vec.quantize(col("embedding")).as("v"))
    val cents = q.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val probe = q.filter(col("vec_id") === 42).collect()(0).getSeq[Long](1).toArray
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val want = cents.minBy { case (cid, cv) => (d2(probe, cv), cid) }._1
    // recover vec 42's cid through a 1-row variant of the operator path
    val got = Similarity.kmeansAssign(q.filter(col("vec_id") === 42 || col("vec_id") < 8), 8)
      .filter(col("vec_id") === 42).head().getLong(1)
    assert(got == want, s"vec 42 assigned to $got, nearest is $want")
  }

  test("kmeans train: objective descends per round (1% grid slack), iters=0 is the seed") {
    import graft.functions.Vec
    import org.apache.spark.sql.functions.{aggregate, broadcast, lit, min, zip_with}
    val emb = Tables.embeddings(spark, dir)
    graft.functions.Registry.ensure(spark)
    val q = emb.select(col("vec_id"), Vec.quantize(col("embedding")).as("v"))
    def objective(cents: org.apache.spark.sql.DataFrame): Double = {
      val d2 = aggregate(zip_with(col("v"), col("cv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
      q.crossJoin(broadcast(cents)).select(col("vec_id"), d2.as("d2"))
        .groupBy("vec_id").agg(min("d2").as("best"))
        .agg(sum(col("best"))).head().getLong(0).toDouble
    }
    // iters=0 must BE the seed init, bit-for-bit
    val seed = Similarity.seedCentroids(q, 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val zero = Similarity.kmeansTrain(emb, kCents = 8, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(zero == seed, "iters=0 is not the seed centroid frame")
    // Lloyd descent: each extra round may only lower the objective,
    // up to the 1/1000-grid re-quantization slack documented on
    // kmeansTrain (centroid means are re-gridded between rounds)
    val objs = (0 to 3).map(i =>
      objective(Similarity.kmeansTrain(emb, kCents = 8, iters = i)))
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.01, s"objective rose past grid slack: $objs")
    }
    assert(objs.last < objs.head, s"training never improved on the seed: $objs")
    // trained centroids drive the cell-blocked dedup directly
    val pairs = Dedup.embeddingNearDupCells(emb,
      Similarity.kmeansTrain(emb, kCents = 8, iters = 2))
    assert(pairs.columns.toSeq == Seq("vec_a", "vec_b", "cell", "cosine"))
    assert(pairs.collect().forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("sketch rollup: two-level union equals one-level sketch; estimate near exact") {
    import graft.sources.Tables
    import graft.operators.TimeSeries
    val events = Tables.events(spark, dir)
    val got = TimeSeries.sketchRollup(events)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // two-level (day sketches unioned) must EQUAL the one-level
    // direct sketch — HLL union is a lossless merge of sketch state
    val oneLevel = events.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == oneLevel.keySet && got.nonEmpty)
    got.foreach { case (src, (est, _, _)) =>
      assert(est == oneLevel(src),
        s"$src: two-level union $est != one-level sketch ${oneLevel(src)}")
    }
    // estimates track the exact distinct counts (lgk=12 default: the
    // relative-error envelope is well under 5% at these cardinalities)
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    exact.foreach { case (src, d, n) =>
      val (est, _, evs) = got(src)
      assert(math.abs(est.toDouble - d) <= math.max(1.0, 0.05 * d),
        s"$src: sketch estimate $est vs exact $d")
      assert(evs == n, s"$src: event count pass-through broke")
    }
  }

  test("bm25: zero-hit docs score zero; ranks strictly ordered") {
    val docs = Tables.documents(spark, dir)
    val top = TextAnalysis.bm25Rank(docs, Seq("data", "query", "spark"))
      .collect()
    assert(top.length == 20)
    val scores = top.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores not monotone over rank")
    // a term set that appears nowhere scores 0 for every doc
    val none = TextAnalysis.bm25Rank(docs, Seq("zzzznotaterm"))
      .agg(sum(abs(col("score")))).head().getDouble(0)
    assert(none == 0.0)
  }

  test("prefix shards: identical for any partition count, budget-dense") {
    val docs = Tables.documents(spark, dir)
    val p1 = Sampling.prefixShards(docs, budget = 5000L, parts = 1).collect()
    val p8 = Sampling.prefixShards(docs, budget = 5000L, parts = 8).collect()
    val p3 = Sampling.prefixShards(docs, budget = 5000L, parts = 3).collect()
    assert(p1.map(_.toSeq).sameElements(p8.map(_.toSeq)),
      "shard assignment depends on partition count (1 vs 8)")
    assert(p1.map(_.toSeq).sameElements(p3.map(_.toSeq)),
      "shard assignment depends on partition count (1 vs 3)")
    // every shard except the last must have crossed the budget line:
    // its last doc's cum_before + n_tokens >= shard*budget + budget
    val byShard = p8.groupBy(_.getLong(3)).toSeq.sortBy(_._1)
    byShard.dropRight(1).foreach { case (s, rows) =>
      val last = rows.maxBy(_.getLong(0))
      assert(last.getLong(2) + last.getLong(1) >= (s + 1) * 5000L,
        s"shard $s closed before reaching its token budget")
    }
  }

  test("training mix composes its gates: subset of keepers, sample, quality floor") {
    val docs = Tables.documents(spark, dir)
    val fr = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25,
      "de" -> 0.125, "fr" -> 0.125)
    val mix = Sampling.trainingMix(docs, fr).collect()
    assert(mix.nonEmpty, "training mix selected nothing")
    assert(mix.forall(_.getDouble(2) >= 0.3), "quality floor violated")
    assert(mix.forall(_.getString(1) != "zh"), "dropped language present")
    val sampleIds = Sampling.stratifiedSample(docs, fr)
      .collect().map(_.getLong(0)).toSet
    assert(mix.forall(r => sampleIds.contains(r.getLong(0))),
      "mix includes a doc outside its stratum sample")
    val keepers = Dedup.exact(docs).select(col("keeper_doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(mix.forall(r => keepers.contains(r.getLong(0))),
      "mix includes a non-keeper duplicate")
  }

  test("upsert: keys unique, updates win, non-matched base preserved") {
    val orders = Tables.orders(spark, dir)
    val merged = Ingest.ordersUpsert(orders)
    val total = merged.count()
    assert(merged.select("o_orderkey").distinct().count() == total,
      "merged keys not unique")
    val nBase = orders.count()
    val nNew = merged.filter(col("op") === "N").count()
    assert(total == nBase + nNew, "row count != base + arrivals")
    // every correction key carries the corrected price (+500 cents)
    val bad = merged.filter(col("op") === "U")
      .join(orders.select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("orig")), Seq("o_orderkey"))
      .filter(col("price_cents") =!= col("orig") + 500L)
    assert(bad.count() == 0, "correction did not win the merge")
  }

  test("upsert: versionCol reduces a multi-row-per-key CDC batch to latest") {
    import spark.implicits._
    val base = Seq((1L, "a", 0L), (2L, "b", 0L))
      .toDF("k", "payload", "ver")
    // key 1 appears three times in one batch — latest (ver=3) must win
    val updates = Seq((1L, "u1", 1L), (1L, "u2", 2L), (1L, "u3", 3L),
      (3L, "n1", 1L)).toDF("k", "payload", "ver")
    val merged = Ingest.upsert(base, updates, "k", versionCol = "ver")
      .orderBy("k").collect()
    assert(merged.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(merged.find(_.getLong(0) == 1L).get.getString(1) == "u3",
      "latest version did not win within the batch")
    assert(merged.find(_.getLong(0) == 2L).get.getString(1) == "b",
      "unmatched base row lost")
  }

  test("dup clusters: empty input yields empty output, not a crash") {
    val docs = Tables.documents(spark, dir).filter(lit(false))
    assert(Dedup.dupClusters(docs).count() == 0)
  }

  test("bpe pair freq: counts are exact on a known vocabulary") {
    import spark.implicits._
    // "abab" -> ab, ba, ab ; "ab" -> ab ; "ba ba" -> ba, ba
    // totals: ab 3, ba 3 — tie broken by pair ascending
    val docs = Seq((1L, "abab ab", "en", "s", 7L), (2L, "ba ba", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.bpePairFreq(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("ab" -> 3L, "ba" -> 3L), s"got $got")
  }

  test("contamination screen flags a planted eval 8-gram and nothing else") {
    import spark.implicits._
    val evalText = "one two three four five six seven eight nine"
    val docs = Seq(
      (0L, evalText, "en", "eval_src", 45L),          // eval doc (0 % 97 == 0)
      (1L, s"prefix $evalText suffix", "en", "web", 60L), // contains the 8-gram
      (2L, "totally different words with no overlap at all ok", "en", "web", 50L),
      (3L, "eight nine one two three four unrelated tail words", "en", "books", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Sampling.contaminationScreen(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("books", 1L, 0L), ("web", 2L, 1L)), s"got $got")
  }

  test("quality rules: per-slice failure counts partition n_docs") {
    // every doc either passes all five rules or fails >=1, so
    // n_pass + |fail any| = n_docs; each per-rule count <= n_docs
    val rep = TextAnalysis.qualityRules(Tables.documents(spark, dir))
    rep.collect().foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val fails = Seq("n_fail_len", "n_fail_mwl", "n_fail_stop",
        "n_fail_rep", "n_fail_div").map(r.getAs[Long](_))
      assert(fails.forall(f => f >= 0 && f <= n))
      assert(r.getAs[Long]("n_pass") <= n)
      // a doc failing NO rule is counted in n_pass, so n_pass >= n - sum(fails)
      assert(r.getAs[Long]("n_pass") >= n - fails.sum)
    }
  }

  test("quality rules: a planted clean doc passes and a degenerate doc fails") {
    import spark.implicits._
    val clean = ("the cat sat on the mat and the dog ran to the " +
      "park in the rain is a fine day for all of us to walk " +
      "the long road home and rest by the warm fire tonight ok") // 41 tokens, stopword-rich, diverse
    val degenerate = Seq.fill(30)("zzzz").mkString(" ") // rep+div+stop fail
    val docs = Seq((1L, clean, "en", "web", 100L),
      (2L, degenerate, "en", "web", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.qualityRules(docs).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_docs") == 2L)
    assert(r(0).getAs[Long]("n_pass") == 1L, s"clean doc should pass: ${r(0)}")
    assert(r(0).getAs[Long]("n_fail_rep") == 1L)
    assert(r(0).getAs[Long]("n_fail_div") == 1L)
  }

  test("source mixture: weights are exact integer sqrt and ppm sums to <= 1e6") {
    val mix = Sampling.sourceMixture(Tables.documents(spark, dir)).collect()
    assert(mix.nonEmpty)
    mix.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val w = r.getAs[Long]("weight")
      assert(w * w <= n && (w + 1) * (w + 1) > n,
        s"weight $w is not floor(sqrt($n))")
    }
    // floor-division normalization can only round DOWN: total ppm <= 1e6
    val ppm = mix.map(_.getAs[Long]("p_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - mix.length * 1000L,
      s"ppm sum $ppm out of range")
  }

  test("context pack: window spans partition each doc's token mass exactly") {
    import spark.implicits._
    val packed = Sampling.contextPack(Tables.documents(spark, dir))
    // (a) per-doc: spans are contiguous and sum to n_tokens
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", size(TextAnalysis.tokens($"text")).cast("long").as("n"))
    val perDoc = packed.groupBy($"doc_id")
      .agg(sum($"tok_len").as("covered"), min($"tok_start").as("first"))
      .join(docs, Seq("doc_id"))
    assert(perDoc.filter($"covered" =!= $"n" || $"first" =!= 0L).count() == 0,
      "doc token mass not exactly partitioned by its spans")
    // (b) per-window: every window except the last carries exactly 512 tokens
    val lastW = packed.agg(max($"window_id")).head().getLong(0)
    val bad = packed.groupBy($"window_id").agg(sum($"tok_len").as("mass"))
      .filter($"window_id" < lastW && $"mass" =!= 512L)
    assert(bad.count() == 0, "a non-final window is not exactly full")
  }

  test("inverted index: postings capped at 16, ascending, df consistent") {
    val idx = TextAnalysis.invertedIndex(Tables.documents(spark, dir)).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val df = r.getAs[Long]("df")
      val post = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(post.length == math.min(df, 16L),
        s"${r.getAs[String]("term")}: ${post.length} postings for df=$df")
      assert(post.sameElements(post.sorted), "postings not ascending")
      assert(post.distinct.length == post.length, "duplicate posting")
    }
  }

  test("substring dedup: a planted shared 8-token run fires, unique text does not") {
    import spark.implicits._
    val run = "a1 a2 a3 a4 a5 a6 a7 a8"
    val docs = Seq(
      (0L, s"$run tailA", "en", "s", 50L),  // 9 toks: 2 windows, run shared
      (1L, s"pre $run", "en", "s", 50L),    // 9 toks: 2 windows, run shared
      (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10", "en", "s", 50L), // 3 unique windows
      (3L, run, "en", "s", 47L),            // exact dup pair with doc 4:
      (4L, run, "en", "s", 47L))            // single window, shared
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.substringDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 0L),
      (3L, 1L, 1L), (4L, 1L, 1L)), s"got $got")
  }

  test("substring dedup: intra-doc repetition alone is not cross-doc duplication") {
    import spark.implicits._
    // the same 8-gram twice in ONE doc: ndocs=1, so nothing flags
    val docs = Seq(
      (0L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.substringDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 9L, 0L)), s"got $got")
  }

  test("dsir importance: planted target-heavy doc outranks, ppm math exact") {
    import spark.implicits._
    val docs = Seq(
      (0L, "x y z", "en", "s", 5L),   // bigrams: "x y","y z"
      (1L, "x y q", "en", "s", 5L),   // bigrams: "x y","y q"
      (2L, "x y z", "de", "s", 5L))   // bigrams: "x y","y z"
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // "x y": c_df=3 t_df=2 -> 1e6*3 div 4 = 750000
    // "y z": c_df=2 t_df=1 -> 1e6*2 div 3 = 666666
    // "y q": c_df=1 t_df=1 -> 1e6*2 div 2 = 1000000
    val got = Sampling.dsirWeights(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1750000L, 2L), (0L, 1416666L, 2L),
      (2L, 1416666L, 2L)), s"got $got")
  }

  test("dsir importance: score is invariant to doc order and partitioning") {
    val docs = Tables.documents(spark, dir)
    val a = Sampling.dsirWeights(docs).collect().toSeq
    val b = Sampling.dsirWeights(docs.repartition(7)).collect().toSeq
    assert(a == b, "dsir top-k depends on physical layout")
  }

  test("bpe train: learns the classic Sennrich merge sequence") {
    import spark.implicits._
    // the canonical corpus: low×5, lower×2, newest×6, widest×3.
    // pair totals round 1: (e,s)=9, (s,t)=9, (w,e)=8, (l,o)=7, (o,w)=7
    // → ties break left-asc, so: es, then est, then lo
    val docs = Seq(
      (0L, ("low " * 5).trim, "en", "s", 20L),
      (1L, ("lower " * 2).trim, "en", "s", 12L),
      (2L, ("newest " * 6).trim, "en", "s", 42L),
      (3L, ("widest " * 3).trim, "en", "s", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val got = TextAnalysis.bpeTrain(docs, nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)), s"merge table drifted: $got")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "bpeTrain left its vocab RDD persisted")
  }

  test("bpe train: greedy left-to-right merge on overlapping pairs") {
    import spark.implicits._
    // "aaa": round 1 counts (a,a) twice but merges greedily to
    // ["aa","a"]; round 2 fuses ("aa","a") — never ["a","aa"]
    val docs = Seq((0L, "aaa", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.bpeTrain(docs, nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1, "a", "a", "aa", 2L),
      (2, "aa", "a", "aaa", 1L)), s"got $got")
  }

  test("bpe train: stops when no pairs remain; empty corpus yields empty table") {
    import spark.implicits._
    val tiny = Seq((0L, "ab ab", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // one merge exhausts the corpus; asking for 10 returns 1 row
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val got = TextAnalysis.bpeTrain(tiny, nMerges = 10).collect()
    assert(got.length == 1 && got(0).getString(3) == "ab")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "bpeTrain left its vocab RDD persisted after exhausting the pairs")
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val none = TextAnalysis.bpeTrain(empty, nMerges = 3)
    assert(none.columns.toSeq ==
      Seq("step", "left", "right", "merged", "freq"))
    assert(none.count() == 0)
  }

  test("bpe train: vocab frame row count is monotone non-increasing across rounds") {
    // the scale argument for q100 is that every merge round runs on
    // the WORD VOCABULARY, never the corpus: one row per distinct
    // word, so the frame cannot grow as merges accumulate (it stays
    // exactly constant — merges rewrite symbol arrays in place).
    // Asserting monotone non-increase pins the invariant the 100-TB
    // claim rests on. The probe records once per ROUND (since the
    // round-12 merge batching, a round can carry several merges), so
    // the entry count is init + rounds, bounded by init + nMerges.
    val docs = Tables.documents(spark, dir)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    TextAnalysis.bpeTrain(docs, nMerges = 5, vocabSizeProbe = Some(sizes))
    assert(sizes.length >= 2 && sizes.length <= 6,
      s"expected init + 1..5 rounds, got $sizes")
    assert(sizes.sliding(2).forall(p => p(1) <= p(0)),
      s"vocab frame grew across merge rounds: $sizes")
    assert(sizes.distinct.length == 1,
      s"vocab rows should be constant (one per distinct word): $sizes")
  }

  test("bpe train: batched rounds produce the exact unbatched Sennrich table") {
    // the round-12 batching claim is EXACT equivalence, not
    // approximation: the disjoint-prefix + strict-count-drop rule
    // must yield the same merge table, in the same order with the
    // same recorded frequencies, as the one-merge-per-round loop —
    // on the real corpus (ties, shared symbols, newborn pairs all
    // occur) and on the planted corpora above.
    val docs = Tables.documents(spark, dir)
    val batched = TextAnalysis.bpeTrain(docs, nMerges = 20, maxBatch = 16)
      .collect().toSeq
    val sequential = TextAnalysis.bpeTrain(docs, nMerges = 20, maxBatch = 1)
      .collect().toSeq
    assert(batched == sequential,
      s"batched merge table drifted from sequential:\n$batched\n$sequential")
    // and batching must actually engage on real text — otherwise this
    // test pins nothing (k=1 every round would equal trivially)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    TextAnalysis.bpeTrain(docs, nMerges = 20, vocabSizeProbe = Some(rounds),
      maxBatch = 16)
    assert(rounds.length - 1 < 20,
      s"batching never selected more than one merge per round " +
        s"(${rounds.length - 1} rounds for 20 merges)")
  }

  test("bpe train: merge table is invariant to doc order and partitioning") {
    val docs = Tables.documents(spark, dir)
    val a = TextAnalysis.bpeTrain(docs, nMerges = 5).collect().toSeq
    val b = TextAnalysis.bpeTrain(docs.repartition(7), nMerges = 5)
      .collect().toSeq
    assert(a == b, s"BPE merges depend on physical layout:\n$a\n$b")
    assert(a.length == 5, "real corpus should sustain 5 merges")
  }

  test("dsir importance: hashed-feature production path preserves rank order") {
    // 8192 buckets over a handful of planted bigrams: no collisions,
    // so the 8-byte-key path must rank documents identically to the
    // byte-exact string path (scores match too — same ppm arithmetic
    // on the same per-feature counts)
    import spark.implicits._
    val docs = Seq(
      (0L, "x y z", "en", "s", 5L),
      (1L, "x y q", "en", "s", 5L),
      (2L, "x y z", "de", "s", 5L),
      (3L, "a b c d", "en", "s", 7L),
      (4L, "a b q r", "de", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val strKeys = Sampling.dsirWeights(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val hashed = Sampling.dsirWeights(docs, hashFeatures = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hashed == strKeys,
      s"hashed-feature path diverged:\n  string: $strKeys\n  hashed: $hashed")
  }

  test("curation funnel: planted corpus walks every stage") {
    import spark.implicits._
    // mod=5: doc 0 is the eval slice; 1..4 and 6 are training.
    // 1 and 6 share text (dup — keeper is min id 1); 2 embeds the
    // eval doc's 8-gram (contaminated); 3 fails the quality gate
    // (one 12-char token, heavy punctuation); 4 is clean.
    val goodA = "the cat and the dog sat of the mat"
    val contam = "the cat and of the e1 e2 e3 e4 e5 e6 e7 e8"
    val docs = Seq(
      (0L, "e1 e2 e3 e4 e5 e6 e7 e8"),
      (1L, goodA), (6L, goodA),
      (2L, contam),
      (3L, "zzzzzzzzzzzz!!!!!!"),
      (4L, "a big dog ran over the old red mat today"))
      .map { case (id, t) => (id, t, "s") }
      .toDF("doc_id", "text", "source")
    val got = Sampling.curationManifest(docs, qualityMin = 0.5, mod = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val tokA = goodA.split("\\s+").length.toLong       // 9
    val tok4 = 10L                                     // doc 4's tokens
    assert(got.toSeq == Seq(("s", 5L, 4L, 3L, 2L, tokA + tok4)),
      s"funnel mismatch: ${got.toSeq}")
  }

  /** Classic iterative BPE encode (Sennrich 2016 reference shape):
    * repeatedly find the LOWEST-RANK adjacent pair present in the
    * merge table and fuse all its greedy-leftmost occurrences. The
    * production path applies merges rank-sequentially instead
    * (bpeApplyMerges scaladoc proves equivalence); this is the
    * independent implementation the equivalence spec checks against.
    */
  private def refBpeEncode(word: String,
                           ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Vector[String] = word.split("").toVector.filter(_.nonEmpty)
    var done = false
    while (!done && syms.length >= 2) {
      val best = syms.zip(syms.tail).filter(ranks.contains)
        .sortBy(ranks).headOption
      best match {
        case None => done = true
        case Some((l, r)) =>
          val buf = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              buf += (l + r); i += 2
            } else { buf += syms(i); i += 1 }
          }
          syms = buf.result()
      }
    }
    syms
  }

  test("bpe encode: rank-sequential fold == classic iterative min-rank encode") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val mergeRows = TextAnalysis.bpeTrain(docs, nMerges = 20).collect()
      .sortBy(_.getInt(0))
    val merges = mergeRows.map(r => (r.getString(1), r.getString(2))).toSeq
    val ranks = merges.zipWithIndex.toMap
    val words = docs
      .select(explode(TextAnalysis.tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "").distinct()
    val got = TextAnalysis.bpeApplyMerges(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(got.nonEmpty)
    got.foreach { case (w, syms) =>
      assert(syms.mkString == w, s"segmentation of '$w' lost characters: $syms")
      val ref = refBpeEncode(w, ranks)
      assert(syms == ref, s"'$w': fold gave $syms, reference gave $ref")
    }
  }

  test("bpe encode: per-doc counts conserve and merges only shrink them") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val zero = TextAnalysis.bpeEncode(docs, nMerges = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // with no merges every word is its characters: n_tokens per doc ==
    // total character count of its (lowercased, whitespace-split) words
    val chars = docs
      .select($"doc_id", explode(TextAnalysis.tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nw"), sum(length($"w")).as("nc"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    zero.foreach { case (id, nw, nt) =>
      assert((nw, nt) == chars(id), s"doc $id zero-merge mismatch")
    }
    val trained = TextAnalysis.bpeEncode(docs, nMerges = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zeroMap = zero.map(t => t._1 -> t).toMap
    assert(trained.length == zero.length)
    var shrank = false
    trained.foreach { case (id, nw, nt) =>
      val (_, znw, znt) = zeroMap(id)
      assert(nw == znw, s"doc $id word count changed under merges")
      assert(nt >= nw && nt <= znt,
        s"doc $id token count $nt outside [words=$nw, chars=$znt]")
      if (nt < znt) shrank = true
    }
    assert(shrank, "10 trained merges compressed no document")
  }

  test("bpe encode: result is partition-invariant") {
    val docs = Tables.documents(spark, dir)
    val a = TextAnalysis.bpeEncode(docs, nMerges = 5).collect().toSeq
    val b = TextAnalysis.bpeEncode(docs.repartition(7), nMerges = 5)
      .collect().toSeq
    assert(a == b)
  }

  test("zvalue: pinned Morton interleave and scale edges") {
    import spark.implicits._
    import graft.operators.Layout
    // x=0b101, y=0b011: x bits land at even positions {0,4}, y bits
    // at odd {1,3} -> z = 1 + 2 + 8 + 16 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.zvalue($"x", $"y").as("z")).head().getLong(0)
    assert(z == 27L, s"zvalue(5,3) = $z, want 27")
    // scaleDim maps min -> 0 and max -> 2^bits - 1
    val e = Seq((0L, 0L, 99L), (99L, 0L, 99L), (50L, 0L, 99L))
      .toDF("v", "lo", "hi")
      .select(Layout.scaleDim($"v", $"lo", $"hi").as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(e == Seq(0L, 253L, 128L), s"scale edges: $e")
  }

  test("zorder layout: both dimensions' bucket ranges beat a hash layout") {
    import graft.operators.Layout
    val orders = Tables.orders(spark, dir)
    val zb = Layout.zorderLayout(orders).collect()
    assert(zb.nonEmpty && zb.length <= 64)
    assert(zb.map(_.getLong(1)).sum == orders.count(), "buckets lose rows")
    def meanRange(rows: Array[org.apache.spark.sql.Row],
                  lo: Int, hi: Int): Double =
      rows.map(r => (r.getLong(hi) - r.getLong(lo)).toDouble).sum / rows.length
    // hash layout: same per-bucket stats keyed on o_orderkey % 64
    val hb = orders
      .withColumn("day", datediff(col("o_orderdate").cast("date"),
        to_date(lit("1990-01-01"))).cast("long"))
      .groupBy((col("o_orderkey") % 64).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
        min(col("day")).as("day_min"), max(col("day")).as("day_max"))
      .collect()
    val (zCk, zDay) = (meanRange(zb, 2, 3), meanRange(zb, 4, 5))
    val (hCk, hDay) = (meanRange(hb, 2, 3), meanRange(hb, 4, 5))
    // a hash layout scatters both dims across ~the full domain; the
    // z-order curve confines EACH dim to a fraction simultaneously
    assert(zCk < 0.5 * hCk, s"custkey range $zCk !< half of hash $hCk")
    assert(zDay < 0.5 * hDay, s"day range $zDay !< half of hash $hDay")
  }

  test("int8 quantization: pinned codes, scale, and reconstruction bound") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(
      Seq((0L, Seq(0.5f, -0.25f, 0.125f, 0.0f, -0.5f)))
        .toDF("vec_id", "embedding")).collect()
    // maxabs = 0.5; round-half-up: -0.25 -> -63.5 -> -63, 0.125 -> 31.75 -> 32
    assert(q.map(_.getLong(2)).toSeq == Seq(127L, -63L, 32L, 0L, -127L),
      s"codes: ${q.map(_.getLong(2)).toSeq}")
    assert(q.forall(_.getDouble(3) == 0.5))
    // every code is in int8 range and reconstructs within half a step
    val corpus = Similarity.quantizeInt8(Tables.embeddings(spark, dir))
    val stats = corpus
      .join(Tables.embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("dim", "x"))),
        Seq("vec_id", "dim"))
      .agg(min($"code").as("lo"), max($"code").as("hi"),
        max(abs($"code" * $"maxabs" / 127 - $"x".cast("double"))
          / $"maxabs").as("maxerr"))
      .head()
    assert(stats.getLong(0) >= -127 && stats.getLong(1) <= 127)
    assert(stats.getDouble(2) <= 0.5 / 127 + 1e-9,
      s"reconstruction error ${stats.getDouble(2)} exceeds half a step")
  }

  test("int8 quantization: top-5 by int8 cosine matches exact within recall 0.8") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val exact = Similarity.cosineTopK(emb, nQueries = 10, k = 5)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // int8 cosine: per-vector scales cancel in dot/(|a||b|) over codes
    val codes = Similarity.quantizeInt8(emb)
      .groupBy($"vec_id")
      .agg(collect_list(struct($"dim", $"code")).as("dc"))
      .select($"vec_id",
        expr("transform(array_sort(dc), s -> s.code)").as("c"))
      .withColumn("nrm", sqrt(expr(
        "aggregate(c, 0L, (a, x) -> a + x * x)").cast("double")))
    val qs = codes.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"c".as("qc"), $"nrm".as("qnrm"))
    val approx = codes.join(broadcast(qs), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        (expr("aggregate(zip_with(c, qc, (x, y) -> x * y), 0L, (a, x) -> a + x)")
          .cast("double") / ($"nrm" * $"qnrm")).as("cos8"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos8".desc, $"vec_id")
    val top8 = approx.withColumn("r", row_number().over(w)).filter($"r" <= 5)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = exact.keys.toSeq.map { qid =>
      (exact(qid) intersect top8.getOrElse(qid, Set.empty)).size.toDouble /
        exact(qid).size
    }
    val mean = recall.sum / recall.size
    assert(mean >= 0.8, s"int8 top-5 mean recall $mean < 0.8")
  }

  test("pq: every vector gets one in-range code per subspace, deterministically") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cb = Similarity.pqCodebooks(emb)
    val codes = Similarity.pqEncode(emb, cb)
    val n = emb.count()
    assert(codes.count() == n * 4, "expected exactly nSub codes per vector")
    val perVec = codes.groupBy($"vec_id").agg(countDistinct($"sub").as("ns"))
      .filter($"ns" =!= 4)
    assert(perVec.count() == 0, "a vector is missing a subspace code")
    val range = codes.agg(min($"code").as("lo"), max($"code").as("hi")).head()
    assert(range.getLong(0) >= 0 && range.getLong(1) < 16,
      s"codes outside [0,16): $range")
    // deterministic: re-derived codes are identical (seeded init, exact
    // integer assignment, (d2, cid) tie-break)
    val codes2 = Similarity.pqEncode(emb, Similarity.pqCodebooks(emb))
    assert(codes.exceptAll(codes2).count() == 0 &&
      codes2.exceptAll(codes).count() == 0, "PQ encoding is nondeterministic")
  }

  test("pq: ADC distance equals sum of subspace distances to coded centroids") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.pqShortlist(emb, r = 5).collect()
    assert(out.nonEmpty)
    // independent recompute on the driver (bounded: sf0.001 corpus)
    val cb = Similarity.pqCodebooks(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
    val codes = Similarity.pqEncode(emb, Similarity.pqCodebooks(emb)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vecs = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    out.foreach { r =>
      val (qid, vid, adc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val expected = (0 until 4).map { m =>
        val qs = vecs(qid).slice(m * 16, m * 16 + 16)
        val cv = cb((m, codes((vid, m))))
        qs.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(adc == expected, s"ADC mismatch for ($qid,$vid): $adc != $expected")
    }
  }

  test("pq: re-ranked top-5 recall vs exact L2 meets the measured floor") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
    val qs = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val d2 = expr("aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"vec_id")
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", d2.as("d2"))
      .withColumn("r", row_number().over(w)).filter($"r" <= 5)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val pq = Similarity.pqTopK(emb).select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rec = exact.keys.toSeq.map(k =>
      (exact(k) intersect pq.getOrElse(k, Set.empty)).size.toDouble / exact(k).size)
    val mean = rec.sum / rec.size
    // measured 0.78/0.84/0.66 at sf0.001/0.01/0.1 (R=64 shortlist,
    // 4-byte codes); floor with headroom
    assert(mean >= 0.55, s"PQ re-ranked recall@5 $mean < 0.55")
    // the re-rank is exact, so every returned hit must be inside the
    // ADC shortlist the codes produced
    val short = Similarity.pqShortlist(emb, r = 64)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    pq.foreach { case (qid, hits) =>
      assert(hits.subsetOf(short(qid)), s"query $qid returned a hit outside its shortlist")
    }
  }

  test("ivfpq: candidate volume follows nProbe/nCells; full probe degenerates to the flat scan") {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    def cands(nProbe: Int): Long =
      Similarity.ivfpqShortlist(emb, nProbe = nProbe, r = Int.MaxValue).count()
    // nProbe = nCells probes everything: exactly nQueries × (n - 1)
    // candidates (every corpus vector minus the query itself) — the
    // flat-PQ q111 volume, the upper end of the law
    val all = cands(16)
    assert(all == 10 * (n - 1), s"full-probe candidates $all != 10 × ${n - 1}")
    // fractional probes: volume ∝ nProbe/nCells at constant occupancy;
    // trained cells are balanced enough that 2× slack covers the skew
    val c1 = cands(1); val c4 = cands(4)
    assert(c1 <= 2 * all / 16, s"nProbe=1 candidates $c1 > 2×(all/16)=${2 * all / 16}")
    assert(c1 < c4 && c4 < all, s"candidate volume not monotone in nProbe: $c1, $c4, $all")
    assert(c4 <= 2 * all * 4 / 16, s"nProbe=4 candidates $c4 > 2×(all/4)")
  }

  test("ivfpq: re-ranked top-5 recall vs exact L2 meets the measured floor; hits stay inside probed cells") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
    val qs = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val d2 = expr("aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"vec_id")
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", d2.as("d2"))
      .withColumn("r", row_number().over(w)).filter($"r" <= 5)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = Similarity.ivfpqTopK(emb).select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rec = exact.keys.toSeq.map(k =>
      (exact(k) intersect got.getOrElse(k, Set.empty)).size.toDouble / exact(k).size)
    val mean = rec.sum / rec.size
    // measured 0.86/0.84/0.76 at sf0.001/0.01/0.1 (nProbe=4 of 16
    // trained cells, 4-byte codes, auto-R re-rank); floor with
    // headroom — and ABOVE flat-PQ q111's 0.55 floor, the composition
    // holding its code-quality control
    assert(mean >= 0.6, s"IVFPQ re-ranked recall@5 $mean < 0.6")
    // every hit must come through the cell-restricted shortlist, and
    // the shortlist can touch at most nQueries × nProbe distinct
    // (query, cell) pairs — the structural cell-restriction claim
    val short = Similarity.ivfpqShortlist(emb, r = 64)
    val shortSets = short.select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    got.foreach { case (qid, hits) =>
      assert(hits.subsetOf(shortSets(qid)),
        s"query $qid returned a hit outside its probed-cell shortlist")
    }
    val qcells = short.select($"query_id", $"cid").distinct().count()
    assert(qcells <= 10 * 4, s"shortlist touched $qcells (query, cell) pairs > nQueries × nProbe")
  }

  test("ivfpq: residual encoding (FAISS by_residual) lifts recall over raw codes at 1×") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
    val qs = q.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val d2 = expr("aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"vec_id")
    val exact = q.join(broadcast(qs), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", d2.as("d2"))
      .withColumn("r", row_number().over(w)).filter($"r" <= 5)
      .select($"query_id", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recallOf(res: Boolean): Double = {
      val got = Similarity.ivfpqTopK(emb, byResidual = res)
        .select($"query_id", $"vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rec = exact.keys.toSeq.map(k =>
        (exact(k) intersect got.getOrElse(k, Set.empty)).size.toDouble / exact(k).size)
      rec.sum / rec.size
    }
    val (raw, res) = (recallOf(false), recallOf(true))
    info(f"IVFPQ recall@5: raw $raw%.2f, residual $res%.2f")
    // measured 0.92/0.92/0.90 residual vs 0.86/0.84/0.76 raw at the
    // three SFs — the finer residual grid wins everywhere at 1×
    // (everything is deterministic, so these are fixed points, not
    // flaky samples); the duplicated 10× regime where it inverts is
    // pinned in ScaleTechniquesSpec
    assert(res >= 0.85, f"residual IVFPQ recall@5 regressed: $res%.2f")
    assert(res >= raw, f"residual encoding lost to raw codes at 1×: $res%.2f < $raw%.2f")
  }

  test("q130 stored-index search returns byte-identical results to in-session q126") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // the declared round-trip (session-keyed index dir, built on
    // first call) against the in-session training+encode path: same
    // trainers, same encode projection, same probe map and re-rank —
    // persistence must change WHERE the codes are read from, never
    // what comes back
    val stored = sig(Similarity.ivfpqStoreRoundTrip(spark, dir))
    val inSession = sig(Similarity.ivfpqTopK(emb))
    assert(stored.nonEmpty, "stored search returned no rows")
    assert(stored == inSession,
      "stored-index search diverged from the in-session IVFPQ path")
    // a second search against the SAME store (the bench's warm pass
    // shape) answers identically — the index is read-only at search
    assert(sig(Similarity.ivfpqStoreRoundTrip(spark, dir)) == stored,
      "re-searching the stored index changed the answer")
  }

  test("q132 approx TopN: planted whale survives any partitioning; lossless regime equals q04 exactly") {
    import spark.implicits._
    import graft.operators.Analytics
    // planted whale at a TINY capacity (4): one customer holds >1/5
    // of total spend, so the W/(capacity+1) guarantee covers it —
    // it must be retained and ranked #1 under ANY partitioning,
    // while 60 flat-tail customers fight over the other 3 slots
    val whale = (1 to 40).map(i => (1000L + i, 99L, 400.0))
    val tail = (1 to 60).flatMap(i => Seq((2000L + i, 100L + i, 100.0)))
    val orders = (whale ++ tail).zipWithIndex
      .map { case ((ok, ck, price), i) => (ok + i, ck, price) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val customer = (Seq(99L) ++ (1 to 60).map(i => 100L + i))
      .map(ck => (ck, s"cust_$ck")).toDF("c_custkey", "c_name")
    for (part <- Seq(orders, orders.repartition(1),
        orders.repartition(17, $"o_orderkey"), orders.repartition(3, $"o_custkey"))) {
      val top = Analytics.topCustomersApprox(part, customer, n = 3,
        capacity = 4).collect()
      assert(top.nonEmpty && top.head.getLong(0) == 99L,
        s"whale (>W/5 of spend) must be ranked #1 at capacity 4: " +
          top.map(_.getLong(0)).mkString(","))
      // the reported value is an exact recount, never a sketch
      // counter (fixture doubles — parquet orders carry decimals)
      assert(BigDecimal(top.head.get(2).toString) == BigDecimal(16000),
        s"whale spend must recount exactly: ${top.head}")
    }
    // lossless regime: distinct customers at sf0.001 fit the Druid
    // 1000-candidate pool, so no counter is ever decremented and the
    // approximate query IS q04 — asserted verbatim, plus under a
    // hostile repartition
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSeq
    val exact = sig(Analytics.topCustomers(o, c))
    assert(sig(Analytics.topCustomersApprox(o, c)) == exact,
      "lossless-regime approx TopN diverged from exact q04")
    assert(sig(Analytics.topCustomersApprox(o.repartition(13), c)) == exact,
      "lossless-regime approx TopN is partition-dependent")
  }

  test("q132 approx TopN at sf0.1: sketch engages (keys > capacity) and the head stays exact") {
    import graft.operators.Analytics
    val dir01 = "/root/testdata/sf0.1"
    val o = Tables.load(spark, dir01, "orders")
    val c = Tables.load(spark, dir01, "customer")
    val nKeys = o.select("o_custkey").distinct().count()
    assert(nKeys > Analytics.TopNCapacity,
      s"sf0.1 has $nKeys ordering customers — below the pool, regime untested")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    val exact = ids(Analytics.topCustomers(o, c))
    val approx = ids(Analytics.topCustomersApprox(o, c))
    val overlap = exact.toSet.intersect(approx.toSet).size
    info(s"sf0.1 top-10 overlap: $overlap/10 (approx $approx vs exact $exact)")
    // measured 10/10 at sf0.1: the TPC-H-ish spend head clears the
    // flat tail comfortably even in the lossy regime; floor leaves
    // room only for genuine distribution drift
    assert(overlap >= 8, s"approx TopN head degraded: $overlap/10")
  }

  test("trainingSample: deterministic, partitioning-invariant, cap-bound, identity under cap") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    // corpus ≤ cap: the sample IS the corpus (small-SF behavior is
    // unchanged by construction)
    assert(Similarity.trainingSample(emb).count() == n,
      s"a $n-row corpus under the ${Similarity.TrainSampleCap} cap must pass through whole")
    // an engaged gate: cap 100 of 500 — size lands in the binomial
    // band around the cap (ceil'd threshold ⇒ never under-shoots far)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id").collect().map(_.getLong(0)).toSet
    val s1 = ids(Similarity.trainingSample(emb, cap = 100))
    assert(s1.size >= 80 && s1.size <= 200,
      s"cap=100 sample of $n rows came back ${s1.size} — gate mis-sized")
    // same rows on every run and under any partitioning — the
    // hash-gate contract that makes sampled training reproducible
    assert(ids(Similarity.trainingSample(emb, cap = 100)) == s1,
      "re-sampling changed the training set")
    assert(ids(Similarity.trainingSample(emb.repartition(7), cap = 100)) == s1,
      "partitioning changed the training set")
  }

  test("q131 sampled-trained IVFPQ: deterministic, k-per-query contract, sample-size-free") {
    val emb = Tables.embeddings(spark, dir)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val out = sig(Similarity.ivfpqTopKSampled(emb))
    assert(out == sig(Similarity.ivfpqTopKSampled(emb)),
      "sampled training is hash-seeded and must be run-deterministic")
    // on a ≤cap corpus the sample IS the corpus, so cap=∞ (full-corpus
    // training, same neutral seeds) is the identical computation —
    // the degenerate end of the parity contract ScaleTechniquesSpec
    // measures at 1×/10× where the gate actually engages
    assert(out == sig(Similarity.ivfpqTopKSampled(emb, cap = Long.MaxValue)),
      "≤cap corpus: sampled and full-corpus neutral-seed training must coincide")
    val perQuery = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5) && perQuery.size == 10,
      s"contract: 5 ranked hits per query × 10 queries, got $perQuery")
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

  test("q134 append: granularity-invariant codes, search ≡ declared round-trip, empty-index refusal") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter($"vec_id" % 3 =!= 2)
    val held = emb.filter($"vec_id" % 3 === 2)
    def codeRows(d: String) = spark.read.parquet(s"$d/codes").collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getAs[Number](r.fieldIndex("cid")).longValue(),
        (0 to 3).map(m => r.getInt(r.fieldIndex(s"c$m"))))).sortBy(_._1).toSeq
    // store A: the held-out third appended as ONE batch
    val dA = mkTmp("graft_app_a")
    Similarity.ivfpqWriteIndex(base, dA)
    Similarity.ivfpqAppendIndex(held, dA)
    // store B: the same rows appended as TWO batches (the declared
    // q134 cadence) — encode is a pure function of (vector, stored
    // artifacts), so arrival granularity must not matter
    val dB = mkTmp("graft_app_b")
    Similarity.ivfpqWriteIndex(base, dB)
    Similarity.ivfpqAppendIndex(held.filter($"vec_id" % 2 === 0), dB)
    Similarity.ivfpqAppendIndex(held.filter($"vec_id" % 2 =!= 0), dB)
    val a = codeRows(dA)
    assert(a.nonEmpty && a == codeRows(dB),
      "append granularity changed the stored code rows")
    // every held row is in the store, coded — nothing dropped
    val heldIds = held.select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(heldIds.subsetOf(a.map(_._1).toSet),
      "an appended row is missing from the code table")
    // the searches over the two accreted stores agree with each other
    // and with the declared round-trip (which builds its own store
    // from the same split — training is deterministic on `base`)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val sA = sig(Similarity.ivfpqStoredTopK(emb, dA))
    assert(sA.nonEmpty && sA == sig(Similarity.ivfpqStoredTopK(emb, dB)),
      "append granularity changed the search answer")
    assert(sA == sig(Similarity.ivfpqAppendRoundTrip(spark, dir)),
      "declared q134 round-trip diverged from the hand-built store")
    // appending through an untrained quantizer must refuse loudly,
    // never silently drop the batch
    val dEmpty = mkTmp("graft_app_e")
    Similarity.ivfpqWriteIndex(emb.filter(lit(false)), dEmpty)
    intercept[IllegalArgumentException] {
      Similarity.ivfpqAppendIndex(held, dEmpty)
    }
    // compaction pays off the append debt: some cell holds >1 file
    // before, every cell exactly 1 after, codes and search
    // byte-identical — the coordinator-period rewrite q134's
    // scaladoc schedules
    def filesPerCell(d: String): Seq[Int] =
      Option(new java.io.File(s"$d/codes").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(filesPerCell(dA).exists(_ > 1),
      "appends left no multi-file cell — the compaction spec has no teeth")
    Similarity.ivfpqCompactIndex(spark, dA)
    assert(filesPerCell(dA).nonEmpty && filesPerCell(dA).forall(_ == 1),
      s"compaction must leave one file per cell: ${filesPerCell(dA)}")
    assert(codeRows(dA) == a, "compaction changed the stored codes")
    assert(sig(Similarity.ivfpqStoredTopK(emb, dA)) == sA,
      "compaction changed the search answer")
  }

  test("q134 append: a planted clone of a query vector is found by the accreted search at d2=0") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_app_p")
    Similarity.ivfpqWriteIndex(emb, d)
    // clone query 0's embedding under a fresh id and append it — the
    // deterministic encode must land it in the query's own coarse
    // cell, which the probe map always includes, so the pruned
    // search CANNOT miss it (the "index stays fresh" contract). The
    // exact re-rank fetches full-width vectors from the CORPUS frame
    // (the index stores only codes), so the search is handed the
    // accreted corpus — exactly what the declared round-trip does
    val q0 = emb.filter($"vec_id" === 0L)
      .select($"embedding").head().getSeq[Float](0)
    val clone = Seq((900001L, q0)).toDF("vec_id", "embedding")
    Similarity.ivfpqAppendIndex(clone, d)
    val corpus = emb.select($"vec_id", $"embedding").union(clone)
    val hits = Similarity.ivfpqStoredTopK(corpus, d).collect()
      .filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(hits.contains((900001L, 0L)),
      s"appended exact clone missing from query 0's top-k at d2=0: $hits")
    assert(hits.head == ((900001L, 0L)),
      s"the d2=0 clone must outrank every non-identical copy: $hits")
  }

  test("q135 delete: tombstoned ids vanish from search; compaction folds them physically, search byte-identical") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_del")
    Similarity.ivfpqWriteIndex(emb, d)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    def storedIds(dd: String) = spark.read.parquet(s"$dd/codes").collect()
      .map(_.getLong(0)).toSet
    val before = sig(Similarity.ivfpqStoredTopK(emb, d))
    // delete an id that IS currently somebody's result — exclusion
    // has teeth only if the victim would otherwise be returned
    val victim = before.map(_._2).filter(_ >= 10L).head
    Similarity.ivfpqDeleteIds(Seq(victim).toDF("vec_id"), d)
    val after = sig(Similarity.ivfpqStoredTopK(emb, d))
    assert(!after.exists(_._2 == victim),
      s"tombstoned vector $victim still surfaced in a search result")
    assert(after.nonEmpty && after != before,
      "deleting a returned vector must change the result set")
    // every query still gets its k ranked hits — the shortlist was
    // filtered BEFORE the top-r window, so live candidates backfill
    val perQuery = after.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.size == 10 && perQuery.values.forall(_ == 5),
      s"deletion shrank a query's top-k below k: $perQuery")
    // re-deleting and deleting an absent id are no-ops
    Similarity.ivfpqDeleteIds(Seq(victim, 888888L).toDF("vec_id"), d)
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == after,
      "repeat/absent-id deletes must not change the answer")
    // compaction folds the tombstones physically: rows gone, table
    // cleared, search byte-identical, one file per cell preserved
    assert(storedIds(d).contains(victim),
      "victim's code rows should still be on disk before compaction")
    Similarity.ivfpqCompactIndex(spark, d)
    assert(!storedIds(d).contains(victim),
      "compaction left the tombstoned rows in the code table")
    assert(!new java.io.File(s"$d/tombstones").exists(),
      "compaction must clear the folded tombstone table")
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == after,
      "folding tombstones changed the search answer")
    val filesPerCell =
      Option(new java.io.File(s"$d/codes").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(filesPerCell.nonEmpty && filesPerCell.forall(_ == 1),
      s"compaction broke the one-file-per-cell law: $filesPerCell")
    // declared q135 round-trip ≡ a hand-built store with the same
    // recipe, and no mod-11 id appears in its results
    val dRt = mkTmp("graft_del_rt")
    Similarity.ivfpqWriteIndex(emb, dRt)
    Similarity.ivfpqDeleteIds(
      emb.filter($"vec_id" % 11 === 3).select($"vec_id"), dRt)
    val rt = sig(Similarity.ivfpqDeleteRoundTrip(spark, dir))
    assert(rt == sig(Similarity.ivfpqStoredTopK(emb, dRt)),
      "declared q135 round-trip diverged from the hand-built store")
    assert(rt.nonEmpty && !rt.exists(_._2 % 11 == 3),
      "a tombstoned mod-11 id leaked into the declared results")
  }

  test("q130/q135 codes compaction: both crash windows recover — reads answer around the crash without mutating, the next writer finishes") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_cswap")
    Similarity.ivfpqWriteIndex(emb, d)
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val before = sig(Similarity.ivfpqStoredTopK(emb, d))

    // CRASH WINDOW A (pre-marker): a tmp without the marker is an
    // abandoned compaction write — searches keep reading codes/, the
    // read never touches the tmp, and the next writer discards it
    val tmp = new java.io.File(s"$d/codes_compact_tmp")
    assert(tmp.mkdirs())
    java.nio.file.Files.write(new java.io.File(tmp, "part-junk").toPath,
      Array[Byte](1, 2, 3))
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == before,
      "a pre-marker tmp changed the search answer")
    assert(tmp.exists(), "a READ deleted the writer's unmarked tmp")
    Similarity.ivfpqRecoverCompact(spark, d)
    assert(!tmp.exists(), "writer-class recovery must abandon the unmarked tmp")
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == before)

    // CRASH WINDOW B (post-marker, mid-swap): the compacted layout is
    // complete and marker-committed, codes/ is parked as codes_old —
    // the exact state a crash between the two renames leaves. The
    // r18 verdict's one product gap: this used to strand the index
    // with NO codes dir and a manual-recovery error message.
    spark.read.parquet(s"$d/codes").repartition(col("cid"))
      .write.partitionBy("cid").parquet(tmp.toString)
    new java.io.File(tmp, "_SWAP_READY").createNewFile()
    assert(new java.io.File(s"$d/codes")
      .renameTo(new java.io.File(s"$d/codes_old")), "test setup rename failed")
    // a search DURING the window answers byte-identically by reading
    // the committed tmp, and mutates nothing
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == before,
      "mid-swap search did not answer from the committed layout")
    assert(tmp.exists() && new java.io.File(s"$d/codes_old").exists() &&
      !new java.io.File(s"$d/codes").exists(),
      "a READ mutated the crashed swap — finishing is writer-class")
    // the next mutation finishes the swap forward
    Similarity.ivfpqRecoverCompact(spark, d)
    assert(new java.io.File(s"$d/codes").exists() && !tmp.exists() &&
      !new java.io.File(s"$d/codes_old").exists() &&
      !new java.io.File(s"$d/codes/_SWAP_READY").exists(),
      "recovery did not finish the swap forward")
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == before,
      "the finished swap changed the search answer")

    // and a real compaction through the new protocol is still
    // byte-identical end-to-end (the q135 fold assertions keep
    // covering the tombstone path)
    Similarity.ivfpqCompactIndex(spark, d)
    assert(sig(Similarity.ivfpqStoredTopK(emb, d)) == before)
  }

  test("q136 delta manifest: ledger ≡ full-scan manifest through build+appends+deletes; audit heals planted skew") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_ledger")
    Similarity.ivfpqWriteIndex(emb, d)
    // two appends (one off-manifold, one in-distribution) and a
    // delete batch with repeats and an absent id — the net-new logic
    // must keep the ledger exact through all of it
    val blob = emb.filter($"vec_id" % 17 === 0)
      .select(($"vec_id" + 10000000L).as("vec_id"),
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")
          .as("embedding"))
    val clones = emb.filter($"vec_id" % 13 === 5)
      .select(($"vec_id" + 20000000L).as("vec_id"), $"embedding")
    Similarity.ivfpqAppendIndex(blob, d)
    Similarity.ivfpqAppendIndex(clones, d)
    val corpus = emb.select($"vec_id", $"embedding")
      .unionByName(blob).unionByName(clones)
    val victims = emb.filter($"vec_id" % 7 === 1).select($"vec_id")
    Similarity.ivfpqDeleteIds(victims, d)
    Similarity.ivfpqDeleteIds(victims, d) // replay: must subtract zero
    Similarity.ivfpqDeleteIds(Seq(777777777L).toDF("vec_id"), d) // absent
    def ledger() = Similarity.ivfpqDeltaManifest(spark, d).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def actual() = Similarity.ivfpqIndexManifest(corpus, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ledger() == actual(),
      "delta-maintained manifest diverged from the full scan after " +
        "build + 2 appends + deletes")
    // the drift decision reads the ledger — its numbers must be the
    // full scan's exactly (n over live rows, mean over their Σd2)
    val full = actual()
    val (fn, fsum) = (full.toSeq.map(_._2).sum, full.toSeq.map(_._3).sum)
    val decision = Similarity.ivfpqRetrainIfDrifted(corpus, d).head()
    assert(decision.getAs[Long]("n_live") == fn &&
      decision.getAs[Double]("mean_d2") == fsum.toDouble / fn,
      "ledger-driven decision diverged from the full-scan numbers")
    // compaction folds the delta segments (1 base) and the code rows;
    // the ledger stays exact. The full-scan comparand changes with it:
    // the physical fold clears the tombstone table, so the audit scan
    // must now be handed the LIVE lake (a purge removes rows from the
    // corpus too) — the ledger needs no such care, which is the point
    Similarity.ivfpqCompactIndex(spark, d)
    val corpusLive = corpus.join(victims, Seq("vec_id"), "left_anti")
    def actualLive(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfpqIndexManifest(c, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val segs = Option(new java.io.File(s"$d/manifest_delta").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("seg="))
    assert(segs == 1, s"ledger fold must leave one base segment: $segs")
    assert(ledger() == actualLive(corpusLive),
      "ledger diverged after compaction fold")
    // planted skew (the documented crashed-mutation window): drop the
    // ledger's base segment's data, append a batch, audit reconciles
    val extra = emb.filter($"vec_id" % 19 === 2)
      .select(($"vec_id" + 30000000L).as("vec_id"), $"embedding")
    Similarity.ivfpqAppendIndex(extra, d)
    val corpus2 = corpusLive.unionByName(extra)
    def rmRfL(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val pp = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(pp))
        java.nio.file.Files.walk(pp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val baseSeg = new java.io.File(s"$d/manifest_delta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName.stripPrefix("seg=").toLong).min
    rmRfL(s"$d/manifest_delta/seg=$baseSeg")
    val skewed = Similarity.ivfpqDeltaManifest(spark, d).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val truth = Similarity.ivfpqIndexManifest(corpus2, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(skewed != truth, "the planted skew has no teeth")
    val audit = Similarity.ivfpqAuditManifest(corpus2, d)
    assert(audit.collect().exists(r =>
      r.getAs[Long]("n_ledger") != r.getAs[Long]("n_actual")),
      "the audit must report the discrepancy it found")
    assert(Similarity.ivfpqDeltaManifest(spark, d).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == truth,
      "the audit must rewrite the ledger to the full-scan truth")
  }

  test("q136 retrain baseline excludes tombstoned ids: post-retrain health counts the live corpus only") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val root = mkTmp("graft_rt_live")
    val d = s"$root/index"
    Similarity.ivfpqWriteIndex(emb, d)
    // tombstone a slice BEFORE the baseline run, then drive drift with
    // the q136 off-manifold blob so a retrain fires with tombstones
    // outstanding — the refreshed baseline must be computed from the
    // LIVE corpus (the new index carries no tombstone table, so a
    // baseline over the raw frame would count deleted ids forever)
    val deleted = emb.filter($"vec_id" % 7 === 1).select($"vec_id")
    val nDeleted = deleted.count()
    Similarity.ivfpqDeleteIds(deleted, d)
    val run1 = Similarity.ivfpqRetrainIfDrifted(emb, d).head()
    assert(!run1.getAs[Boolean]("retrained"), "baseline run must not fire")
    val blob = emb.filter($"vec_id" % 17 === 0)
      .select(($"vec_id" + 10000000L).as("vec_id"),
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")
          .as("embedding"))
    Similarity.ivfpqAppendIndex(blob, d)
    val corpus2 = emb.select($"vec_id", $"embedding").unionByName(blob)
    val run2 = Similarity.ivfpqRetrainIfDrifted(corpus2, d).head()
    assert(run2.getAs[Boolean]("retrained"), "planted drift must fire")
    val health = spark.read.parquet(s"$d/health").head()
    val liveN = corpus2.count() - nDeleted
    assert(health.getAs[Long]("n_vectors") == liveN,
      s"refreshed baseline counted ${health.getAs[Long]("n_vectors")} " +
        s"vectors, want the live corpus $liveN — deleted ids leaked in")
    // the promoted index folded the tombstones: deleted ids are gone
    // from the code table, not merely masked
    val storedIds = spark.read.parquet(s"$d/codes")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(!storedIds.exists(i => i < 10000000L && i % 7 == 1),
      "retrain must fold tombstones out of the rebuilt code table")
    assert(!new java.io.File(s"$d/tombstones").exists(),
      "the promoted index must not carry the old tombstone table")
  }

  test("q136 retrain: planted off-manifold drift fires exactly one retrain; post-retrain search ≡ fresh build") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_retrain") + "/index"
    Similarity.ivfpqWriteIndex(emb, d)
    val blob = emb.filter($"vec_id" % 17 === 0)
      .select(($"vec_id" + 10000000L).as("vec_id"),
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")
          .as("embedding"))
    val base = emb.select($"vec_id", $"embedding")
    val corpus2 = base.unionByName(blob)
    def dec(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getBoolean(3))
    }
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // run 1 through the SCHEDULABLE form: establishes the baseline,
    // never fires, and the Pipeline metrics row records it ok
    val m1 = graft.Pipeline.run(spark,
      Seq(Similarity.ivfpqRetrainStage(base, d))).collect()
    assert(m1.length == 1 && m1.head.getAs[Boolean]("ok") &&
      m1.head.getAs[Long]("rows") == 1L,
      s"retrain stage did not run clean: ${m1.toSeq}")
    val (n1, mean1, base1, fired1) = dec(Similarity.ivfpqRetrainIfDrifted(base, d))
    assert(!fired1 && mean1 == base1 && n1 > 0,
      s"a fresh index must observe its own baseline, not retrain: $mean1 vs $base1")
    // the off-manifold append blows up residuals against the stored
    // geometry — exactly one retrain fires, then the signal is quiet
    Similarity.ivfpqAppendIndex(blob, d)
    val (n2, mean2, base2, fired2) = dec(Similarity.ivfpqRetrainIfDrifted(corpus2, d))
    assert(fired2 && mean2 > 2.0 * base2 && n2 > n1,
      s"planted drift did not fire: mean $mean2 vs baseline $base2")
    val (_, mean3, base3, fired3) = dec(Similarity.ivfpqRetrainIfDrifted(corpus2, d))
    assert(!fired3 && mean3 == base3,
      s"the rebuilt geometry must satisfy its own refreshed baseline: $mean3 vs $base3")
    // retrain IS a fresh build on the live corpus with the stored
    // hyperparameters — byte-identical searches prove it
    val dFresh = mkTmp("graft_retrain_f") + "/index"
    Similarity.ivfpqWriteIndex(corpus2, dFresh)
    val post = sig(Similarity.ivfpqStoredTopK(corpus2, d))
    assert(post.nonEmpty && post == sig(Similarity.ivfpqStoredTopK(corpus2, dFresh)),
      "post-retrain search diverged from a fresh build on the same corpus")
    // declared round-trip log: (baseline, fire, quiet)
    val log = Similarity.ivfpqRetrainRoundTrip(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getBoolean(4)).toSeq
    assert(log == Seq(1 -> false, 2 -> true, 3 -> false),
      s"declared retrain log must fire exactly once, on run 2: ${log.toSeq}")
    // crash recovery, abandon path: a tmp WITHOUT the commit marker is
    // a pre-commit crash — dropped, the live index untouched
    val junk = new java.io.File(s"${d}_retrain_tmp"); junk.mkdirs()
    new java.io.File(junk, "garbage").createNewFile()
    val (_, _, _, firedJ) = dec(Similarity.ivfpqRetrainIfDrifted(corpus2, d))
    assert(!junk.exists(), "an uncommitted retrain tmp must be abandoned")
    assert(!firedJ && post == sig(Similarity.ivfpqStoredTopK(corpus2, d)),
      "abandon-path recovery disturbed the live index")
    // crash recovery, finish-forward path: a COMPLETE tmp with the
    // marker is promoted before the decision is computed
    val tmp2 = s"${d}_retrain_tmp"
    Similarity.ivfpqWriteIndex(corpus2, tmp2)
    val fresh = Similarity.ivfpqIndexManifest(corpus2, tmp2)
      .agg(sum($"n_vectors"), sum($"sum_d2")).head()
    Seq((fresh.getLong(1).toDouble / fresh.getLong(0), fresh.getLong(0)))
      .toDF("mean_d2", "n_vectors")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp2/health")
    new java.io.File(tmp2, "_RETRAIN_READY").createNewFile()
    val (_, meanR, baseR, firedR) = dec(Similarity.ivfpqRetrainIfDrifted(corpus2, d))
    assert(!new java.io.File(tmp2).exists() && !firedR && meanR == baseR,
      "finish-forward recovery must promote the committed tmp and stay quiet")
    assert(post == sig(Similarity.ivfpqStoredTopK(corpus2, d)),
      "the promoted index diverged from the equivalent fresh build")
  }

  test("random projection: exact integer projection and JL concentration") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val out = Similarity.randomProjection(emb)
    // driver recompute for the lowest vec_id: proj_j = sum(s_ji * q_i)
    val signs = Similarity.jlSigns()
    val v0 = emb.orderBy($"vec_id").limit(1)
      .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))"))
      .head().getSeq[Long](0)
    val got0 = out.orderBy($"vec_id", $"out_dim").limit(Similarity.JlOutDim)
      .collect().map(_.getLong(2)).toSeq
    val exp0 = signs.map(s => s.zip(v0).map { case (a, b) => a * b }.sum)
    assert(got0 == exp0, s"projection of first vector: $got0 != $exp0")
    // JL concentration: E[d2_proj] = outDim * d2_orig; the mean ratio
    // over sampled pairs concentrates near 1
    val q = emb.filter($"vec_id" < 20).select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val p = out.filter($"vec_id" < 20)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val ratios = for {
      i <- q.keys.toSeq.sorted; j <- q.keys.toSeq.sorted if i < j
    } yield {
      val dOrig = q(i).zip(q(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      val dProj = p(i).zip(p(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      dProj.toDouble / (Similarity.JlOutDim.toDouble * dOrig)
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.7 && mean < 1.3, s"JL mean distance ratio $mean outside [0.7, 1.3]")
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"a pair's distance ratio left the concentration envelope: ${ratios.min} .. ${ratios.max}")
  }

  test("k-center: output equals an exact driver replay; radius monotone") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val out = Similarity.kcenterSample(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "kcenterSample left its per-round distance frames persisted")
    // exact greedy replay on the driver (bounded corpus at sf0.001)
    val vecs = emb.select($"vec_id",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS LONG))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = Vector(vecs.keys.min)
    var expect = Vector((1, vecs.keys.min, 0L))
    for (r <- 2 to 8) {
      val cand = vecs.keys.filterNot(chosen.contains).map { id =>
        (id, chosen.map(c => d2(vecs(id), vecs(c))).min)
      }
      val (pick, md) = cand.toSeq.sortBy { case (id, m) => (-m, id) }.head
      chosen :+= pick
      expect :+= ((r, pick, md))
    }
    assert(out == expect, s"k-center drifted from the exact greedy replay:\n$out\n$expect")
    assert(out.map(_._3).drop(1) == out.map(_._3).drop(1).sorted.reverse,
      "covering radius is not monotone non-increasing")
    // partitioning invariance (integer math + deterministic tie-break)
    val out13 = Similarity.kcenterSample(emb.repartition(13)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out13 == out, "k-center pick sequence depends on partitioning")
  }

  test("kmv intersect: bounded error vs exact overlap; lossless small unions") {
    import spark.implicits._
    // real data (sf0.01): every type pair's union fits inside K, so
    // the synopsis is lossless — estimates must EQUAL the exact
    // overlap, not just approximate it
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val est = TimeSeries.kmvIntersect(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(3), r.getDouble(5))).toMap
    val ut = ev.select($"event_type", $"user_id").distinct()
    val exact = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.nonEmpty && exact.keySet == est.keySet)
    exact.foreach { case (pair, n) =>
      assert(est(pair)._2 == n.toDouble,
        s"pair $pair: lossless regime must be exact (${est(pair)._2} vs $n)")
    }
    // estimator regime: 6000 distinct users force union >> K=256;
    // planted overlap 2000 (users 2000..3999 see both types)
    val big = (0L until 4000L).map(u => (u, "a")) ++
      (2000L until 6000L).map(u => (u, "b"))
    val bigEv = big.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        u, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val br = TimeSeries.kmvIntersect(bigEv).head()
    val (estU, estI) = (br.getDouble(4), br.getDouble(5))
    assert(math.abs(estU - 6000) / 6000.0 <= 0.25,
      s"union estimate $estU vs 6000")
    assert(math.abs(estI - 2000) / 2000.0 <= 0.35,
      s"intersection estimate $estI vs 2000")
    // A-not-B (planted: users 0..1999 a-only, 4000..5999 b-only) and
    // the partition identity: the three set-op estimates scale counts
    // that partition K by one common factor, so they must reassemble
    // the union estimate exactly
    val (estAnB, estBnA) = (br.getDouble(8), br.getDouble(9))
    assert(math.abs(estAnB - 2000) / 2000.0 <= 0.35,
      s"a-not-b estimate $estAnB vs 2000")
    assert(math.abs(estBnA - 2000) / 2000.0 <= 0.35,
      s"b-not-a estimate $estBnA vs 2000")
    assert(math.abs(estI + estAnB + estBnA - estU) <= 1e-6 * estU,
      s"set-op estimates do not partition the union: $estI + $estAnB + $estBnA vs $estU")
    // lossless collapse: a corpus whose per-pair union fits in K rows
    // must estimate EXACTLY (the synopsis holds every distinct hash)
    val tiny = Seq.tabulate(300) { i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        (i % 100).toLong, if (i % 2 == 0) "a" else "b", 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tr = TimeSeries.kmvIntersect(tiny).head()
    // users 0..99: evens see "a", odds see "b" -> overlap is empty?
    // i%2 alternates with user i%100 parity: user u gets type a iff u
    // even (i ≡ u mod 2 when 100 even) -> disjoint user sets
    assert(tr.getDouble(5) == tr.getLong(3).toDouble,
      "small-union estimate did not collapse to the exact count")
    val tiny2 = Seq.tabulate(300) { i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        (i % 50).toLong, if (i % 3 == 0) "a" else "b", 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tr2 = TimeSeries.kmvIntersect(tiny2).head()
    // every user hits both types across 300 events -> n_both = 50 = union
    assert(tr2.getLong(3) == 50 && tr2.getDouble(5) == 50.0,
      s"expected exact overlap 50, got ${tr2.getLong(3)} / ${tr2.getDouble(5)}")
  }

  test("kmv intersect: complete sketches stay exact past the union-size boundary") {
    import spark.implicits._
    def ev(pairs: Seq[(Long, String)]) = pairs.zipWithIndex.map {
      case ((u, t), i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          u, t, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val K = TimeSeries.KmvK
    // boundary the old `|union| < K` test missed: union has EXACTLY K
    // distinct hashes but both per-type sketches are complete (150
    // distinct each <= K) — the synopsis is lossless, so the estimate
    // must be exact, not ~1/sqrt(K) noisy
    val boundary = ev((0L until 150L).map((_, "a")) ++
      ((K - 150).toLong until K.toLong).map((_, "b")))
    val br = TimeSeries.kmvIntersect(boundary).head()
    assert(br.getLong(2) == K, s"union should hold exactly K, got ${br.getLong(2)}")
    val exactOverlap = 150 - (K - 150) // users [K-150, 150)
    assert(br.getDouble(4) == K.toDouble && br.getDouble(5) == exactOverlap.toDouble,
      s"boundary pair must collapse to exact counts, got " +
        s"union=${br.getDouble(4)} inter=${br.getDouble(5)}")
    assert(br.getDouble(8) == (150 - exactOverlap).toDouble &&
      br.getDouble(9) == (150 - exactOverlap).toDouble,
      s"boundary a-not-b/b-not-a must be exact, got " +
        s"${br.getDouble(8)} / ${br.getDouble(9)}")
    // past the boundary: union > K but each side holds exactly K
    // distinct (still complete — saturation means EXCEEDING K) — the
    // pair keeps its full union and stays exact
    val past = ev((0L until K.toLong).map((_, "a")) ++
      (200L until (200L + K)).map((_, "b")))
    val pr = TimeSeries.kmvIntersect(past).head()
    assert(pr.getLong(2) == 200 + K,
      s"complete pair must keep its full union, got ${pr.getLong(2)}")
    assert(pr.getDouble(4) == (200 + K).toDouble &&
      pr.getDouble(5) == (K - 200).toDouble,
      s"complete pair must stay exact past the K boundary, got " +
        s"union=${pr.getDouble(4)} inter=${pr.getDouble(5)}")
    assert(pr.getDouble(8) == 200.0 && pr.getDouble(9) == 200.0,
      s"complete-pair a-not-b/b-not-a must be exact, got " +
        s"${pr.getDouble(8)} / ${pr.getDouble(9)}")
    // one side saturated (K+1 distinct): the pair is estimator-regime
    // and truncates to K — the flag, not the union size, decides
    val sat = ev((0L until (K + 1).toLong).map((_, "a")) ++
      (0L until 100L).map((_, "b")))
    val sr = TimeSeries.kmvIntersect(sat).head()
    assert(sr.getLong(2) == K,
      s"saturated pair must truncate to K, got ${sr.getLong(2)}")
  }

  test("quality classifier: separates a planted disjoint-vocab corpus perfectly") {
    import spark.implicits._
    val pos = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon i$i", "en", "s", 10L))
    val neg = (0 until 40).map(i =>
      (100L + i, s"uno dos tres cuatro cinco j$i", "es", "s", 10L))
    val docs = (pos ++ neg)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Sampling.qualityClassifier(docs, iters = 8).collect()
    assert(out.length == 80)
    val acc = out.count(r =>
      (r.getDouble(4) > 0.5) == (r.getInt(2) == 1)).toDouble / out.length
    assert(acc == 1.0, s"disjoint-vocab corpora must separate fully, got $acc")
  }

  test("chunk windows: stride grid + tail anchor cover every token exactly") {
    import spark.implicits._
    // n=9, C=4, S=3: grid starts {0,3}, tail anchor 5 — without the
    // anchor, tokens 8-9 fall out of every chunk
    val one = Seq((7L, "t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "s", 26L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.chunkWindows(one, c = 4, stride = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (0, 0L, 4L, "t1 t2 t3 t4"),
      (1, 3L, 4L, "t4 t5 t6 t7"),
      (2, 5L, 4L, "t6 t7 t8 t9")), s"chunks: ${got.toSeq}")
    // real corpus, default params: last chunk reaches n; every
    // chunk_text has exactly chunk_len tokens; short docs get one chunk
    val docs = Tables.documents(spark, dir)
    val out = TextAnalysis.chunkWindows(docs)
    val bad = out.filter(
      size(split($"chunk_text", " ")) =!= $"chunk_len").count()
    assert(bad == 0, s"$bad chunks with text/span mismatch")
    val n = docs.select($"doc_id",
      size(filter(split(trim(lower($"text")), "\\s+"), w => w =!= ""))
        .cast("long").as("n")).filter($"n" > 0)
    val lastEnd = out.groupBy($"doc_id")
      .agg(max($"start" + $"chunk_len").as("last_end"))
      .join(n, Seq("doc_id"))
      .filter($"last_end" =!= $"n")
    assert(lastEnd.count() == 0, "a document's tail tokens are uncovered")
  }

  test("quality classifier: token-less documents still get scored") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),
      (1L, "", "en", "s", 0L),
      (2L, "   ", "en", "s", 3L),
      (3L, "uno dos tres", "es", "s", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Sampling.qualityClassifier(docs, iters = 2).collect()
    assert(out.length == 4, s"expected every doc scored, got ${out.length}")
    assert(out.forall(r => !r.getDouble(4).isNaN && !r.getDouble(4).isInfinite),
      "a score is NaN/Inf")
  }

  test("pq: dimension is derived from the data, not assumed 64") {
    import spark.implicits._
    // dim-16 corpus (the fuzz shape that exposed the q114 bug):
    // training, encode, and search must all work on the real width
    val rng = new scala.util.Random(5)
    val emb = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rng.nextFloat() * 2 - 1), (i % 4).toInt))
      .toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(emb)
    val widths = cb.select(size($"cv")).distinct().collect().map(_.getInt(0))
    assert(widths.forall(_ == 4),
      s"sub-codebook widths should be 16/4 = 4, got ${widths.toSeq}")
    val codes = Similarity.pqEncode(emb, cb)
    assert(codes.count() == 60 * 4)
    assert(codes.filter($"code".isNull).count() == 0, "null codes on dim-16")
    val out = Similarity.pqTopK(emb, k = 3)
    assert(out.count() > 0 && out.filter($"d2".isNull).count() == 0,
      "dim-16 search produced no/null results")
  }

  test("quality classifier: beats the majority baseline; partition-invariant") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val out = Sampling.qualityClassifier(docs).collect()
    val majority = math.max(
      out.count(_.getInt(2) == 1), out.count(_.getInt(2) == 0))
      .toDouble / out.length
    val acc = out.count(r =>
      (r.getDouble(4) > 0.5) == (r.getInt(2) == 1)).toDouble / out.length
    assert(acc >= 0.85 && acc > majority,
      s"trained accuracy $acc (majority baseline $majority)")
    // fixed-point gradient sums: training AND scores are bit-identical
    // under any partitioning
    val out13 = Sampling.qualityClassifier(
      Tables.documents(spark, dir).repartition(13)).collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(3))).toSeq ==
      out13.map(r => (r.getLong(0), r.getDouble(3))).toSeq,
      "classifier output depends on partitioning")
  }

  test("misra-gries: merge handles immutable buffers on either side") {
    // the encoder boundary hands back immutable maps; merge folds the
    // SMALLER side into the larger, so the conversion path must work
    // whichever argument is the deserialized one
    val mg = new graft.functions.WeightedMisraGries(4)
    val big = Map("a" -> 5L, "b" -> 4L, "c" -> 3L) // immutable, larger
    val small = ("d" :: "d" :: Nil).map(_ -> 1L).foldLeft(mg.zero)(mg.reduce) // mutable
    val m1 = mg.merge(big, small)
    val m2 = mg.merge(small, Map("a" -> 5L, "b" -> 4L, "c" -> 3L))
    assert(m1.toMap == Map("a" -> 5L, "b" -> 4L, "c" -> 3L, "d" -> 2L))
    assert(m1.toMap == m2.toMap, "merge must be argument-order symmetric here")
    // immutable-vs-immutable with overflow takes the cut path: six keys
    // exceed the capacity + purgeK = 4 + 1 buffer bound
    val over = mg.merge(Map("a" -> 5L, "b" -> 4L, "c" -> 3L),
      Map("d" -> 2L, "e" -> 1L, "f" -> 1L))
    assert(over.size <= 4 + 1 && over.contains("a"))
  }

  test("quantile rollup: non-finite values are counted apart and never picked") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq(
      (0L, ts, 1L, "a", Some(1.0), "{}"),
      (1L, ts, 1L, "a", Some(Double.NaN), "{}"),
      (2L, ts, 1L, "a", Some(Double.PositiveInfinity), "{}"),
      (3L, ts, 1L, "a", Some(-2.5), "{}"),
      // the ADVICE r13 scenario: -Inf used to bin to Long.MinValue,
      // whose binMid overflowed abs() and SIGN-FLIPPED the percentile
      (4L, ts, 1L, "a", Some(Double.NegativeInfinity), "{}"),
      // the ADVICE r15 scenario: a NULL value is a MISSING
      // observation — it must vanish entirely, not be reported as an
      // infinity (isnan(NULL)=false let it reach the sentinel bin)
      (6L, ts, 1L, "a", Option.empty[Double], "{}"),
      // a type that is ALL non-finite must report NULL percentiles
      (5L, ts, 1L, "b", Some(Double.PositiveInfinity), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = TimeSeries.quantileRollup(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("a", "b"))
    val a = out("a")
    // NaN excluded entirely; ±Inf counted as n_nonfinite, not n_values
    assert(a.getLong(1) == 2, s"n_values ${a.getLong(1)}")
    assert(a.getLong(2) == 2, s"n_nonfinite ${a.getLong(2)}")
    // every percentile reads a FINITE value from the finite mass
    // {-2.5, 1.0}: p25/p50 land in -2.5's bin (negative, NOT +1.0 —
    // the sign-flip bug), p75/p95 in 1.0's bin
    val ps = (4 to 7).map(a.getDouble)
    assert(ps.forall(p => !p.isNaN && !p.isInfinite), s"non-finite percentile in $ps")
    assert(ps(0) < 0 && ps(1) < 0 && math.abs(ps(0) + 2.5) < 0.2,
      s"p25/p50 should read -2.5's bin: $ps")
    assert(ps(2) > 0 && math.abs(ps(2) - 1.0) < 0.1, s"p75 should read 1.0's bin: $ps")
    val b = out("b")
    assert(b.getLong(1) == 0 && b.getLong(2) == 1)
    assert((4 to 7).forall(b.isNullAt), "all-non-finite type must report NULL percentiles")
  }

  test("quantile rollup: two-level merge equals one-level; percentiles near exact") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    // mergeability (the q110 pattern): rolling daily sketch rows up
    // by bin-count addition must equal sketching straight off the raw
    // events — the property that makes any grain coarsening a sketch
    // merge instead of a re-scan
    val two = TimeSeries.dailyValueSketch(ev)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("n")).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val one = ev.filter(!isnan(col("value")))
      .groupBy(col("event_type"),
        when(abs(col("value")) =!= Double.PositiveInfinity,
          (signum(col("value")) * floor(log2(lit(1.0) + abs(col("value"))) *
            TimeSeries.QsBinsPerOctave)).cast("long")).as("bin"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(two == one, "two-level sketch merge diverged from one-level")
    // error bound vs q39's exact percentiles: each log-grid bin spans
    // a ~4.4% relative value interval at B=16, so the recovered
    // percentile must land within a few bins of the exact quantile
    val approx = TimeSeries.quantileRollup(ev).collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toMap
    val exact = operators.Analytics.percentiles(ev).collect()
      .map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    for (t <- exact.keys; (e, a) <- exact(t).zip(approx(t))) {
      val err = math.abs(a - e) / math.max(math.abs(e), 1.0)
      assert(err <= 0.10,
        f"$t: sketch percentile $a%.3f vs exact $e%.3f (rel err $err%.3f)")
    }
  }

  test("quality classifier: held-out validation accuracy meets the measured floor") {
    // the q50 hash-split composition: gradients never touch the val
    // shard, so the val rows' accuracy is honest generalization — a
    // production filter is judged on held-out data, and train-set
    // accuracy overstates it (the expected modest train/val gap IS
    // the finding)
    def accs(d: String): (Double, Double, Int) = {
      val out = Sampling.qualityClassifier(Tables.documents(spark, d))
        .collect()
      def accOf(split: String): Double = {
        val rows = out.filter(_.getString(1) == split)
        rows.count(r =>
          (r.getDouble(4) > 0.5) == (r.getInt(2) == 1)).toDouble / rows.length
      }
      (accOf("train"), accOf("val"), out.count(_.getString(1) == "val"))
    }
    for (d <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val (trainAcc, valAcc, nVal) = accs(d)
      info(f"$d: train $trainAcc%.3f, val $valAcc%.3f (n_val=$nVal)")
      assert(nVal >= 30, s"val shard too small to read accuracy: $nVal")
      // measured r13: sf0.01 train 0.956 / val 0.958; sf0.1 train
      // 0.985 / val 0.990 — essentially no train/val gap, because the
      // heuristic label is itself a surface-feature function the
      // hashed-TF basis captures; the floor sits under the worst
      // point with regeneration-noise margin
      assert(valAcc >= 0.85, f"held-out accuracy $valAcc%.3f below floor at $d")
      assert(trainAcc >= valAcc - 0.05,
        f"train $trainAcc%.3f below val $valAcc%.3f — split leak or optimizer bug")
    }
  }

  test("misra-gries: retention guarantee holds under adversarial merge shapes") {
    val mg = new graft.functions.WeightedMisraGries(4)
    // stream: 'hot' appears 40 times among 100 items -> freq > n/(cap+1)=20
    val stream = ((0 until 40).map(_ => "hot") ++
      (0 until 60).map(i => s"cold$i")).map(_ -> 1L)
    // worst-case shapes: sequential, reversed, and a deep two-sided
    // merge tree over 10-item chunks
    val seqBuf = stream.foldLeft(mg.zero)(mg.reduce)
    assert(seqBuf.contains("hot"), "sequential reduce lost the heavy item")
    val revBuf = stream.reverse.foldLeft(mg.zero)(mg.reduce)
    assert(revBuf.contains("hot"), "reversed reduce lost the heavy item")
    val chunks = stream.grouped(10)
      .map(_.foldLeft(mg.zero)(mg.reduce)).toSeq
    val merged = chunks.reduce(mg.merge)
    assert(merged.contains("hot"), "merge tree lost the heavy item")
    // the buffer bound is capacity + purgeK, purgeK = max(1, 4 / 4)
    assert(merged.size <= 4 + 1, "merge exceeded capacity")
    // estimate bound: est <= true and true - est <= n/(cap+1)
    val est = merged.getOrElse("hot", 0L)
    assert(est <= 40 && 40 - est <= 100 / 5,
      s"estimate $est outside the Misra-Gries bound for true=40, n=100")
  }

  test("heavy hitters: output equals the exact aggregate on any partitioning") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val exact = {
      val t = docs.select(explode(split(trim(lower($"text")), "\\s+")).as("w"))
        .filter($"w" =!= "")
      val tot = t.count()
      t.groupBy($"w").agg(count(lit(1)).as("n"))
        .filter($"n" * TextAnalysis.HhDenom > tot)
        .select($"w".as("term"), $"n", lit(tot).as("n_tokens"))
    }
    val hh = TextAnalysis.heavyHitters(docs)
    assert(hh.exceptAll(exact).count() == 0 && exact.exceptAll(hh).count() == 0,
      "two-pass heavy hitters differs from the exact aggregate")
    // partitioning invariance: the sketch pass sees different merge
    // orders, the exact recount must erase them
    val hh17 = TextAnalysis.heavyHitters(docs.repartition(17))
    assert(hh.exceptAll(hh17).count() == 0 && hh17.exceptAll(hh).count() == 0,
      "heavy hitters output depends on input partitioning")
  }

  test("lm fluency: pinned values on a hand-computed corpus") {
    import spark.implicits._
    val docs = Seq((0L, "a a a"), (1L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmFluency(docs).collect()
    assert(out.length == 2)
    // c2: (<s>,a)=1 (<s>,b)=1 (a,a)=2 (b,c)=1; c1: <s>=2 a=2 b=1; V=3
    // doc0: (2/5 + 3/5 + 3/5)/3; doc1: (2/5 + 2/4)/2
    val d0 = out.find(_.getLong(0) == 0L).get
    assert(d0.getLong(1) == 3)
    assert(d0.getDouble(2) == (2.0 / 5 + 3.0 / 5 + 3.0 / 5) / 3, s"$d0")
    val d1 = out.find(_.getLong(0) == 1L).get
    assert(d1.getLong(1) == 2)
    assert(d1.getDouble(2) == (2.0 / 5 + 2.0 / 4) / 2, s"$d1")
  }

  test("lm fluency: repetitive text outscores token soup; partition-invariant") {
    import spark.implicits._
    val rep = (0 until 20).map(_ => "the cat sat on the mat").mkString(" ")
    val soup = "zq xv qj wk bn pf gz lx mv ct dw hy jr ks lt nz pb qd rf sg"
    val docs = Tables.documents(spark, dir)
      .select($"doc_id" + 1000000L as "doc_id", $"text")
      .unionByName(Seq((0L, rep), (1L, soup)).toDF("doc_id", "text"))
    val out = TextAnalysis.lmFluency(docs)
      .filter($"doc_id" < 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(0L) > out(1L),
      s"repetitive doc ${out(0L)} did not outscore soup ${out(1L)}")
    // exact double equality across partitionings: the sorted fold
    // makes the float sum order-deterministic
    val a = TextAnalysis.lmFluency(Tables.documents(spark, dir)).collect()
    val b = TextAnalysis.lmFluency(
      Tables.documents(spark, dir).repartition(13)).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq,
      "lm fluency score depends on partitioning")
  }

  test("bloom screen: no false negatives and bounded false-positive rate") {
    import spark.implicits._
    val v = Dedup.bloomScreen(Tables.documents(spark, dir)).collect()
    assert(v.nonEmpty)
    val fn = v.count(r => r.getBoolean(3) && !r.getBoolean(2))
    assert(fn == 0, s"$fn true duplicates missed by the bloom — impossible by construction")
    val clean = v.count(!_.getBoolean(3))
    val fp = v.count(r => r.getBoolean(2) && !r.getBoolean(3))
    assert(clean == 0 || fp.toDouble / clean <= 0.05,
      s"false-positive rate $fp/$clean above 5% (expected ~0.24% at 16 bits/key)")
  }

  test("bloom screen: planted re-arrival is flagged as dup, unseen doc is not") {
    import spark.implicits._
    // ids 0..8 land in the corpus slice (%10<9); the batch slice
    // (%5=4) picks id 4 (a corpus member re-arriving -> true dup)
    // and id 9 (absent from the corpus -> genuinely new)
    val docs = (0L to 9L).map(i =>
      (i, s"planted document number $i with enough text", "srcA"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.bloomScreen(docs).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(4L, 9L))
    assert(out(4L) == ((true, true)), "re-arrived corpus doc must flag as dup")
    assert(!out(9L)._2, "unseen doc cannot be an exact dup")
  }

  test("curation funnel: stage counts are monotone per source on the corpus") {
    val m = Sampling.curationManifest(Tables.documents(spark, dir)).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (docs, q, d, c) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(docs >= q && q >= d && d >= c && c >= 0,
        s"non-monotone funnel for ${r.getString(0)}: $docs/$q/$d/$c")
    }
  }

  // ------------------------------------------------------------------
  // q138 — streaming ingest segments for the IVFPQ store
  // ------------------------------------------------------------------

  private def topkSig(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

  private def segCommits(d: String): Seq[Long] =
    Option(new java.io.File(s"$d/codes_seg/commits").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)) // skip .crc sidecars
      .map(_.toLong).toSeq.sorted

  test("q138 streaming segments: segment store ≡ batch-append store; replay, junk pre-marker dirs, and empty batches are invisible") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val dStr = mkTmp("graft_q138_str")
    val dApp = mkTmp("graft_q138_app")
    val baseF = emb.filter($"vec_id" % 3 =!= 2)
    val b0 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0)
    val b1 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 =!= 0)
    Similarity.ivfpqWriteIndex(baseF, dStr)
    Similarity.ivfpqWriteIndex(baseF, dApp)
    Similarity.ivfpqIngestBatch(b0, dStr, 0L)
    Similarity.ivfpqIngestBatch(b1, dStr, 1L)
    Similarity.ivfpqAppendIndex(b0, dApp)
    Similarity.ivfpqAppendIndex(b1, dApp)
    // encode is the same pure projection — only the landing layout
    // differs, so search from segments ≡ search from appended base
    val want = topkSig(Similarity.ivfpqStoredTopK(emb, dApp))
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, dStr)) == want,
      "segment-backed search diverged from the batch-append store")
    // the declared round-trip is exactly this recipe
    assert(topkSig(Similarity.ivfpqStreamRoundTrip(spark, dir)) == want,
      "declared q138 round-trip diverged from the hand-built store")
    // ledger stays exact through the segment path (deltas ride inside
    // the segments until a compaction migrates them)
    def ledger() = Similarity.ivfpqDeltaManifest(spark, dStr).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def actual() = Similarity.ivfpqIndexManifest(emb, dStr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ledger() == actual(),
      "delta ledger diverged from the full scan with live segments")
    // committed replay is a no-op: same store bytes, same answer
    Similarity.ivfpqIngestBatch(b1, dStr, 1L)
    assert(segCommits(dStr) == Seq(0L, 1L) &&
      topkSig(Similarity.ivfpqStoredTopK(emb, dStr)) == want,
      "committed replay changed the store")
    // a pre-marker crash leaves a junk segment dir no reader touches
    // (it would fail the scan if read — the marker is the visibility
    // gate), and the overwrite-mode replay retires it: an EMPTY batch
    // under that id commits a data-less segment readers also skip
    val junk = new java.io.File(s"$dStr/codes_seg/seg=9/cid=0")
    assert(junk.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(junk, "part-junk.parquet").toPath,
      Array[Byte](9, 9, 9))
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, dStr)) == want,
      "an uncommitted junk segment reached the scan")
    Similarity.ivfpqIngestBatch(emb.filter(lit(false)), dStr, 9L)
    assert(!junk.exists(),
      "the replay's overwrite must retire the crashed write")
    assert(segCommits(dStr) == Seq(0L, 1L, 9L) &&
      topkSig(Similarity.ivfpqStoredTopK(emb, dStr)) == want &&
      ledger() == actual(),
      "an empty committed segment must be invisible to every read")
    // an UNCOMMITTED id below committed history is refused (the
    // streaming checkpoint and the store disagree)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dStr/codes_seg/commits/1"))
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfpqIngestBatch(b1, dStr, 1L)
    }
    assert(err.getMessage.contains("refusing to rewrite history"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dStr/codes_seg/commits/1"))
  }

  test("q138 compaction folds segments: the post-swap crash window reads exactly once and the next writer converges store and ledger") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_q138_fold")
    val baseF = emb.filter($"vec_id" % 3 =!= 2)
    val b0 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0)
    val b1 = emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 =!= 0)
    Similarity.ivfpqWriteIndex(baseF, d)
    Similarity.ivfpqIngestBatch(b0, d, 0L)
    Similarity.ivfpqIngestBatch(b1, d, 1L)
    // victims span BOTH layouts: base rows and stream-ingested rows —
    // the delete's ledger probe must see the segments too
    val victims = emb.filter($"vec_id" % 11 === 3).select($"vec_id")
    Similarity.ivfpqDeleteIds(victims, d)
    val before = topkSig(Similarity.ivfpqStoredTopK(emb, d))
    val liveN = emb.count() - victims.count()
    val allCells = (0L until 16L).toSeq
    def storedN() = Similarity.storedCodes(spark, d, allCells).count()
    def ledgerSum() = Similarity.ivfpqDeltaManifest(spark, d).get
      .agg(sum($"n_vectors")).head().getLong(0)
    // plant the compaction crash MID-SWAP with segments folded: the
    // committed tmp carries the folded layout + the _FOLDED_SEGS list,
    // codes/ is parked — the exact state a crash between the two
    // renames leaves, with the folded segment dirs still on disk
    val segRoot = s"$d/codes_seg"
    val folded = spark.read.parquet(s"$d/codes")
      .withColumn("cid", col("cid").cast("long"))
      .unionByName(spark.read.option("basePath", segRoot)
        .parquet(s"$segRoot/seg=0", s"$segRoot/seg=1")
        .withColumn("cid", col("cid").cast("long")).drop("seg"))
      .join(spark.read.parquet(s"$d/tombstones").select($"vec_id").distinct(),
        Seq("vec_id"), "left_anti")
    val tmp = s"$d/codes_compact_tmp"
    folded.repartition(col("cid"))
      .write.partitionBy("cid").parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/_FOLDED_SEGS"),
      "0\n1".getBytes("UTF-8"))
    new java.io.File(tmp, "_SWAP_READY").createNewFile()
    assert(new java.io.File(s"$d/codes")
      .renameTo(new java.io.File(s"$d/codes_old")), "test setup rename")
    // reads DURING the window: answer from the committed tmp, exclude
    // the folded segments (their rows are in the folded layout), and
    // mutate nothing — every live row exactly once
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, d)) == before,
      "mid-swap segment-folding search diverged")
    assert(storedN() == liveN,
      s"mid-swap scan must read every live row exactly once: " +
        s"${storedN()} vs $liveN")
    assert(new java.io.File(s"$segRoot/seg=0").exists() &&
      new java.io.File(s"$d/codes_old").exists(),
      "a READ mutated the crashed compaction")
    // the ledger's documented transient: folded segments' deltas are
    // excluded but not yet migrated — an UNDERCOUNT (never a double
    // count) until the next writer closes it
    assert(ledgerSum() < liveN,
      "crash-window ledger should under-count, never double-count")
    // the next writer converges everything: swap finished, segments
    // retired, deltas migrated by rename, list cleared
    Similarity.ivfpqRecoverCompact(spark, d)
    assert(new java.io.File(s"$d/codes").exists() &&
      !new java.io.File(s"$d/codes_old").exists() &&
      !new java.io.File(tmp).exists() &&
      !new java.io.File(s"$d/codes/_FOLDED_SEGS").exists() &&
      !new java.io.File(s"$segRoot/seg=0").exists() &&
      !new java.io.File(s"$segRoot/seg=1").exists(),
      "writer-class recovery left compaction state behind")
    assert(segCommits(d) == Seq(0L, 1L),
      "commit markers must outlive the fold — they gate late replays")
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, d)) == before &&
      storedN() == liveN, "recovery changed the store's answer")
    assert(ledgerSum() == liveN,
      "migrated deltas must restore the exact ledger")
    // a REAL compaction end-to-end now folds tombstones physically and
    // restores the one-file-per-cell law; a late replay of a folded
    // batch stays a no-op forever
    Similarity.ivfpqCompactIndex(spark, d)
    assert(!new java.io.File(s"$d/tombstones").exists())
    val filesPerCell =
      Option(new java.io.File(s"$d/codes").listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("cid="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(filesPerCell.nonEmpty && filesPerCell.forall(_ == 1),
      s"compaction broke the one-file-per-cell law: $filesPerCell")
    Similarity.ivfpqIngestBatch(b0, d, 0L)
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, d)) == before &&
      storedN() == liveN,
      "a late replay of a folded batch duplicated its rows")
  }

  test("q138 streaming twin: the checkpointed sink's segments equal the batch path and an idle restart adds nothing") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.embeddings(spark, dir)
    val baseF = emb.filter($"vec_id" % 3 =!= 2)
    val rows = emb.filter($"vec_id" % 3 === 2)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      .sortBy(_._1)
    val (a, b) = rows.splitAt(rows.length / 2)
    val dStr = mkTmp("graft_q138_tw")
    val ckpt = mkTmp("graft_q138_tw_ckpt")
    Similarity.ivfpqWriteIndex(baseF, dStr)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float], Int)]
    def stream = ms.toDF.toDF("vec_id", "embedding", "label")
    ms.addData(a.toSeq)
    Similarity.ivfpqIngestStreamOnce(stream, dStr, ckpt)
    ms.addData(b.toSeq)
    Similarity.ivfpqIngestStreamOnce(stream, dStr, ckpt)
    assert(segCommits(dStr) == Seq(0L, 1L),
      "streaming ingest did not commit exactly the two engine batches")
    Similarity.ivfpqIngestStreamOnce(stream, dStr, ckpt)
    assert(segCommits(dStr) == Seq(0L, 1L), "an idle restart grew the store")
    // the streamed store answers byte-identically to the declared
    // batch-built q138 store (same corpus split, same quantizers)
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, dStr)) ==
      topkSig(Similarity.ivfpqStreamRoundTrip(spark, dir)),
      "streamed store diverged from the batch-ingested q138 store")
  }

  test("q138 ingest history survives a retrain: markers carry forward, a replayed batch stays a no-op") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val root = mkTmp("graft_q138_rt")
    val d = s"$root/index"
    val baseF = emb.filter($"vec_id" % 3 =!= 2)
    val b0 = emb.filter($"vec_id" % 3 === 2)
    Similarity.ivfpqWriteIndex(baseF, d)
    Similarity.ivfpqIngestBatch(b0, d, 0L)
    val corpus = emb.select($"vec_id", $"embedding")
    val run1 = Similarity.ivfpqRetrainIfDrifted(corpus, d).head()
    assert(!run1.getAs[Boolean]("retrained"), "baseline run must not fire")
    // drive the drift with an off-manifold STREAMED batch (the q136
    // blob, landed through the q138 path): the seg's own ledger delta
    // must feed the monitor, and the fired retrain must preserve the
    // ingest history it folds away
    val blob = emb.filter($"vec_id" % 17 === 0)
      .select(($"vec_id" + 10000000L).as("vec_id"),
        expr("transform(embedding, x -> x + CAST(10.0 AS FLOAT))")
          .as("embedding"))
    Similarity.ivfpqIngestBatch(blob, d, 1L)
    val corpus2 = corpus.unionByName(blob)
    val run2 = Similarity.ivfpqRetrainIfDrifted(corpus2, d).head()
    assert(run2.getAs[Boolean]("retrained"),
      "streamed off-manifold batch must fire the drift monitor")
    assert(segCommits(d) == Seq(0L, 1L),
      "retrain must carry the ingest commit markers forward")
    assert(!new java.io.File(s"$d/codes_seg/seg=1").exists(),
      "retrain re-encodes the corpus — segments must not survive")
    val after = topkSig(Similarity.ivfpqStoredTopK(corpus2, d))
    def ledgerN() = Similarity.ivfpqDeltaManifest(spark, d).get
      .agg(sum($"n_vectors")).head().getLong(0)
    val n0 = ledgerN()
    // a checkpoint replay of the folded batch is a marker no-op; a
    // fresh id above the carried history still ingests
    Similarity.ivfpqIngestBatch(blob, d, 1L)
    assert(topkSig(Similarity.ivfpqStoredTopK(corpus2, d)) == after &&
      ledgerN() == n0,
      "a replayed pre-retrain batch re-ingested into the rebuilt store")
    Similarity.ivfpqIngestBatch(emb.filter(lit(false)), d, 2L)
    assert(segCommits(d) == Seq(0L, 1L, 2L),
      "a fresh batch id must still ingest after the carry-forward")
  }

  test("q138 scheduled compaction stage: below-threshold no-op, above-threshold fold, clean pipeline row") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val d = mkTmp("graft_q138_stage")
    Similarity.ivfpqWriteIndex(emb.filter($"vec_id" % 3 =!= 2), d)
    Similarity.ivfpqIngestBatch(
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 === 0), d, 0L)
    Similarity.ivfpqIngestBatch(
      emb.filter($"vec_id" % 3 === 2 && $"vec_id" % 2 =!= 0), d, 1L)
    Similarity.ivfpqDeleteIds(
      emb.filter($"vec_id" % 11 === 3).select($"vec_id"), d)
    val before = topkSig(Similarity.ivfpqStoredTopK(emb, d))
    // below every threshold: the interval records a no-op (a lone
    // tombstone batch must not trigger a corpus rewrite)
    val noop = Similarity.ivfpqCompactStage(d).build(spark).head()
    assert(!noop.getAs[Boolean]("compacted") &&
      noop.getAs[Long]("segments_before") == 2L &&
      noop.getAs[Long]("tombstone_files") == 1L, s"$noop")
    assert(new java.io.File(s"$d/codes_seg/seg=0").exists(),
      "a no-op interval must leave the segments alone")
    // past the segment threshold: the fold fires and converges the
    // store — segments retired, tombstones folded, one file per cell
    val fired = Similarity.ivfpqCompactStage(d, maxSegments = 1)
      .build(spark).head()
    assert(fired.getAs[Boolean]("compacted") &&
      fired.getAs[Long]("segments_after") == 0L &&
      fired.getAs[Long]("tombstones_after") == 0L &&
      fired.getAs[Long]("max_files_after") == 1L, s"$fired")
    assert(topkSig(Similarity.ivfpqStoredTopK(emb, d)) == before,
      "the scheduled fold changed the search answer")
    // and through the Pipeline runner: a clean metrics row
    val row = graft.Pipeline.run(spark,
      Seq(Similarity.ivfpqCompactStage(d))).head()
    assert(row.getAs[Boolean]("ok"), s"$row")
  }

}
