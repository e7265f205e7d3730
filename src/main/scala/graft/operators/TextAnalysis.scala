package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for LLM-training-data pipelines — SURVEY.md §2 block F.
  *
  * All per-document scoring is pure Column arithmetic over one scan —
  * no shuffle until the (optional) per-group aggregation, so each
  * operator streams at full scan speed over a 100 TB corpus.
  */
object TextAnalysis {

  /** Whitespace tokenization (the BPE-ish regex variant is
    * [[bpeishTokenCount]]).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Rough BPE-style token estimate: word pieces + punctuation kept as
    * separate tokens (a regex approximation of subword tokenizers).
    */
  def bpeishTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+|(?=[.,;:!?])"))

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Canonical text normalization (q109) — the standard pre-dedup
    * canonicalization stage: collapse whitespace runs (the explicit
    * ASCII class `[ \t\n\r\f]` so Java-regex and RE2 `\s` dialect
    * differences can't diverge the engines), trim, then Unicode NFC
    * via the native [[graft.functions.NfcNormalize]] expression — so
    * `e + COMBINING ACUTE` and precomposed `é` dedup/shingle/hash
    * identically downstream, and two crawls of the same page that
    * differ only in whitespace or composition form collapse in q23.
    *
    * One map-only scan (no shuffle, no UDF — everything stays in
    * whole-stage codegen); at 100 TB this runs at I/O speed as a
    * rewrite or as an inline stage fused into whatever consumes it.
    * `changed` flags rows the canonicalization actually touched (the
    * usual monitoring signal for "how dirty is this crawl").
    */
  def normalizeText(docs: DataFrame): DataFrame = {
    val norm = call_function("graft_nfc",
      trim(regexp_replace(col("text"), "[ \t\n\r\f]+", " ")))
    docs.select(col("doc_id"), norm.as("norm_text"),
        (norm =!= col("text")).as("changed"))
      .orderBy(col("doc_id"))
  }

  /** Count tokens belonging to a word set — native codegen'd
    * [[graft.functions.CountInSet]] (same semantics as
    * `size(filter(arr, t -> t IN set))`, ~3× faster).
    */
  private def countIn(arr: Column, words: Seq[String]): Column =
    call_function("graft_count_in", arr,
      lit(words.mkString(graft.functions.CountInSet.Delimiter)))

  /** Per-language token statistics (exact long sums). */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_tokens", size(tokens($"text")).cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        min($"n_tokens").as("min_tokens"),
        max($"n_tokens").as("max_tokens"))
      .orderBy($"lang")

  /** Per-document quality scoring: length, punctuation ratio, stopword
    * ratio — the heuristics used to filter web-scraped training text.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    withQuality(documents)
      .select($"doc_id", $"n_chars_actual", $"n_tokens", $"punct_ratio",
        $"stop_ratio", $"avg_token_len", $"quality")
      .orderBy($"doc_id")

  /** Appends the quality components to `documents` WITHOUT projecting
    * the source columns away — the fused single-scan building block
    * shared by [[qualityScore]] (q31) and `Sampling.trainingMix`
    * (q82), which computes quality and the dedup digest in the same
    * pass over the text.
    */
  private[graft] def withQuality(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", tokens($"text"))  // bind once; see shinglesOf note
      .withColumn("n_chars_actual", length($"text").cast("long"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("punct_count",
        (length($"text") - length(regexp_replace($"text", "[.,;:!?]", "")))
          .cast("long"))
      .withColumn("stop_count", countIn($"toks", stopwords))
      .withColumn("punct_ratio", $"punct_count" * 1.0 / $"n_chars_actual")
      .withColumn("stop_ratio", $"stop_count" * 1.0 / $"n_tokens")
      .withColumn("avg_token_len", $"n_chars_actual" * 1.0 / $"n_tokens")
      .withColumn("quality",
        $"stop_ratio" * 0.5 + (lit(1.0) - $"punct_ratio") * 0.3 +
          when($"avg_token_len".between(3.0, 8.0), 0.2).otherwise(0.0))

  /** Stopword profiles for [[langId]], in tie-break preference order
    * (first-listed profile wins ties — matches the original
    * `CASE WHEN en_hits >= greatest(…)` cascade).
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** Stopword-profile language ID (n-gram/stopword heuristic) scored
    * against the labeled `lang` column. Confusion-matrix output.
    *
    * Classification is a single native [[graft.functions.LangBest]]
    * call: one `split` + one token pass per row. The per-profile
    * `*_hits` column cascade this replaces re-evaluated the tokenizer
    * subtree up to ~12× per row after CollapseProject inlining
    * (8.3 s → <1 s at sf0.1; the SURVEY §7a pitfall).
    */
  def langId(documents: DataFrame): DataFrame =
    documents
      .withColumn("predicted",
        call_function("graft_lang_best", tokens(lower($"text")),
          lit(graft.functions.LangBest.encode(langProfiles))))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")

  /** Word n-gram shingles from an already-materialized token-array
    * column (guarded: <n tokens → empty array).
    *
    * IMPORTANT perf contract: pass a *column reference* (e.g. bound
    * via `withColumn("w", tokens($"text"))`), not the `tokens(...)`
    * expression itself — every `element_at(w, …)` inside the lambda
    * re-evaluates its subtree, so an inline `split()` would run
    * 3×|shingles| regex splits per row instead of one.
    */
  def shinglesOf(w: Column, n: Int = 3): Column =
    when(size(w) >= n,
      call_function("graft_rolling_fp", w, lit(n), lit(1), lit("str")))
      .otherwise(array().cast("array<string>"))

  /** Hashed word-shingles — `transform(shinglesOf(w, n), xxhash64)`
    * fused into the native rolling kernel (one tight loop per row;
    * the HOF twin pays an interpreted lambda per shingle). Same
    * xxhash64 seed/bytes, so candidate sets are identical.
    */
  def hashedShinglesOf(w: Column, n: Int = 3): Column =
    when(size(w) >= n,
      call_function("graft_rolling_fp", w, lit(n), lit(1), lit("xx")))
      .otherwise(array().cast("array<bigint>"))

  /** Convenience form over raw text — fine for small/cold paths; hot
    * paths should materialize the token column and use [[shinglesOf]].
    */
  def shingles(text: Column, n: Int = 3): Column = shinglesOf(tokens(text), n)

  /** Email/phone regexes for PII scrubbing (training corpora are
    * scrubbed before use; same pattern family as web-scrape cleaners).
    */
  val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** The synthetic punctuation-bearing contact string derived from an
    * event row (shared by q41 piiScrub and q89 tokenCounts).
    *
    * FORMAT PRECONDITION for q89's oracle: the counting identity
    * n_bpe = n_ws + punct_count holds only while no [.,;:!?] mark sits
    * at a token START (i.e. adjacent to whitespace or another mark) —
    * here every mark is embedded inside a token ("@example.com",
    * "555-NNNN"). Changing this format can silently invalidate the
    * identity rather than the operator; the hash gate would catch the
    * mismatch, this note makes the failure diagnosable.
    */
  private def contactOf: Column = concat(
    lit("reach user"), $"user_id", lit(" at u"), $"user_id",
    lit("@example.com or 555-"), lpad(($"event_id" % 10000).cast("string"), 4, "0"),
    lit(" re "), $"event_type")

  /** PII detection + redaction over a text column (q41). The
    * `contact` text is derived deterministically from events (stands
    * in for a raw scraped field); the scan runs after the event_id
    * exchange ([[Par.orderedEvents]]).
    */
  def piiScrub(events: DataFrame): DataFrame =
    Par.orderedEvents(events, $"event_id", $"user_id", $"event_type")
      // graft_pii_scan fuses the former four regex expressions
      // (2× count + nested 2× replace) into one native struct-valued
      // scan — one input evaluation, three matcher passes, same
      // sequential-replace semantics
      .select($"event_id",
        call_function("graft_pii_scan", contactOf,
          lit(EmailRe), lit(PhoneRe)).as("pii"))
      .select($"event_id", $"pii.n_emails".as("n_emails"),
        $"pii.n_phones".as("n_phones"), $"pii.redacted".as("redacted"))

  /** Within-document repetition scoring (the Gopher-style "repeated
    * n-gram fraction" quality rule): most-frequent 3-gram count over
    * total 3-grams per document.
    *
    * Groups on `xxhash64(shingle)` rather than the shingle string —
    * the counts only need shingle IDENTITY, so the (doc_id, key)
    * shuffle carries 8 bytes/key instead of a ~20-char string (the
    * q24 trick). A 2⁻⁶⁴ intra-doc collision would merge two distinct
    * 3-grams' counts and slightly inflate max_repeat; that risk is
    * ACCEPTED as negligible — the string-keyed DuckDB oracle only
    * certifies the test corpora it runs on, not production data.
    */
  def repetition(documents: DataFrame): DataFrame = {
    val sh = documents
      .withColumn("w", tokens($"text"))
      .select($"doc_id", explode(shinglesOf($"w")).as("s"))
    sh.groupBy($"doc_id", xxhash64($"s").as("s"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_shingles"), max($"c").as("max_repeat"))
      .withColumn("repetition_ratio", $"max_repeat" * 1.0 / $"n_shingles")
      .orderBy($"doc_id")
  }

  /** Deterministic hash-based dataset splitting — the train/val/test
    * sharding every training-data pipeline needs. Assignment is a pure
    * function of the id (xxhash64 bucket), so it is stable across
    * runs, partitionings, and cluster sizes, and documents never
    * migrate between splits when the corpus grows.
    */
  def hashSplit(documents: DataFrame, idCol: String = "doc_id",
                valPct: Int = 1, testPct: Int = 1): DataFrame =
    documents
      .withColumn("_bucket", pmod(xxhash64(col(idCol)), lit(100)))
      .withColumn("split",
        when($"_bucket" < testPct, "test")
          .when($"_bucket" < testPct + valPct, "val")
          .otherwise("train"))
      .drop("_bucket")

  /** Split-size summary (the verifiable face of [[hashSplit]]). */
  def splitSummary(documents: DataFrame): DataFrame =
    hashSplit(documents)
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc_id"))
      .orderBy($"split")

  /** Document fingerprints: whitespace-normalized md5 (exact-dup key)
    * + minimum shingle hash (a 1-hash MinHash, stable under small
    * edits — the rolling-hash fingerprint family).
    */
  def fingerprint(documents: DataFrame): DataFrame =
    // ONE scan: the normalized-text md5 rides through the shingle
    // explode (explode_outer keeps <3-token docs as a null shingle
    // row, so min(md5(null))=null reproduces the old left-join /
    // array_min(empty)=null semantics) and both fingerprints come out
    // of the same doc_id aggregate. The md5 and the min stay in
    // whole-stage codegen (array_min over an interpreted transform
    // lambda measured ~2x slower); round 7's two-lineage form
    // scanned and tokenized the corpus twice.
    documents
      .withColumn("fp_norm",
        md5(lower(regexp_replace(trim($"text"), "\\s+", " "))))
      .withColumn("w", tokens($"text"))
      .select($"doc_id", $"fp_norm", explode_outer(shinglesOf($"w")).as("s"))
      .groupBy($"doc_id")
      .agg(first($"fp_norm").as("fp_norm"),
        min(md5($"s")).as("fp_min_shingle"))
      .select($"doc_id", $"fp_norm", $"fp_min_shingle")
      .orderBy($"doc_id")

  /** Whitespace vs BPE-ish token counts side by side (q89) — the two
    * token-budget estimates a curation pipeline carries (word-level
    * and subword-approximation), over the punctuation-bearing contact
    * strings. The BPE-ish split treats each punctuation mark as its
    * own token start, so n_bpe = n_ws + punctuation count.
    */
  def tokenCounts(events: DataFrame): DataFrame =
    Par.orderedEvents(events, $"event_id", $"user_id", $"event_type")
      .select($"event_id", contactOf.as("contact"))
      .select($"event_id",
        size(tokens($"contact")).as("n_ws"),
        bpeishTokenCount($"contact").as("n_bpe"))

  /** One BPE-style pair-frequency step (q91): the statistic a
    * tokenizer-training loop computes each merge round — counts of
    * adjacent character pairs across the lowercased corpus
    * vocabulary, occurrence-weighted, top-k with a deterministic
    * tie-break. Pure integer counts (oracle-exact); the pair keyspace
    * is bounded by charset², so the count aggregation map-side
    * combines to almost nothing and the top-k is a
    * TakeOrderedAndProject, never a global sort of the corpus. A full
    * BPE trainer is this query in a driver loop with the winning pair
    * merged into the token stream each round.
    */
  def bpePairFreq(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .select(explode(tokens(lower($"text"))).as("t"))
      .filter(length($"t") >= 2)
      .select(explode(transform(sequence(lit(1), length($"t") - 1),
        i => $"t".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(k)

  /** UTF-8 binary string ordering — identical to Spark SQL's
    * UTF8String/string sort order (byte-wise unsigned), which differs
    * from java.lang.String's UTF-16 code-unit order for supplementary
    * characters. The RDD-resident BPE loop must tie-break EXACTLY
    * like the pre-r20 `orderBy(n desc, l, r)` did.
    */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Full BPE merge-table training (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units") — the
    * tokenizer-vocabulary learner [[bpePairFreq]]'s scaladoc promises:
    * start from characters, repeatedly merge the most frequent
    * adjacent symbol pair, emit the learned merge table
    * (step, left, right, merged, freq).
    *
    * Scale shape: the corpus is scanned ONCE — BPE statistics live on
    * the word VOCABULARY (distinct word → count), which the first
    * groupBy collapses to ~10⁸ rows at 100 TB, orders of magnitude
    * below the corpus. Every merge ROUND then runs on that vocab RDD
    * only, held by [[DriverLoop]]: per-partition adjacent-pair counts
    * whose keyspace is bounded by symbols², a bounded top-(maxBatch+1)
    * collect — the driver certificate, the same pattern as
    * [[Dedup.dupClusters]] — and a per-word greedy left-to-right
    * rewrite of the symbol array (so "aaa" merges to ["aa","a"] like
    * the reference implementation) that replaces the vocab RDD.
    * Determinism: ties break (freq DESC, left ASC, right ASC) in
    * UTF-8 binary order, so the merge table is a pure function of the
    * corpus.
    *
    * MERGE BATCHING: the driver loop is the wall-clock floor
    * (~0.14 s/round ⇒ ~25 min for a 10k-merge production train), so
    * each round applies up to `maxBatch` NON-INTERACTING merges
    * instead of one. The batch is the maximal prefix of the (freq
    * DESC, left ASC, right ASC)-ranked pair list that stays pairwise
    * disjoint over each pair's THREE symbols {l, r, l+r} (so no
    * batched merge can consume or produce another batched merge's
    * symbols), shrunk until the last selected count strictly exceeds
    * the first excluded count. That prefix is provably the exact
    * sequence sequential Sennrich training would pick: disjointness
    * preserves every selected pair's own count under the earlier
    * merges in the batch (merging never makes two previously
    * non-adjacent symbols adjacent), and any pair NEWLY created by a
    * batched merge is bounded by the count of a parent pair that
    * shares a symbol with it — a pair that, being a sharer, ranks
    * strictly below the selected prefix, so the strict count drop
    * keeps every newborn below every selected count. A batch of size
    * 1 is the plain argmax with no side condition. The k disjoint
    * rewrites fuse into ONE per-word fold (disjoint rules commute and
    * cannot chain), and the next round's pair count materializes the
    * rewrite, so a round is one job regardless of batch size.
    * `maxBatch = 1` is the sequential loop; the batched≡unbatched table equality is
    * spec-pinned (NewOpsSpec).
    *
    * Iterative and therefore not SQL-expressible in one statement —
    * rows-only in the oracle gate, with planted-corpus specs pinning
    * the classic merge sequences.
    */
  def bpeTrain(documents: DataFrame, nMerges: Int = 10,
               vocabSizeProbe: Option[scala.collection.mutable.Buffer[Long]] =
                 None,
               maxBatch: Int = 16): DataFrame = {
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    val spark = documents.sparkSession
    // only the Seq→DF conversion; the full implicits would shadow the
    // package-level $ column interpolator
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    // The merge rounds run outside Catalyst (re-planning a nested-CASE
    // rewrite expression per round cost more than the round's work):
    // the corpus scan and distinct-word collapse stay SQL, the loop
    // state — one (syms, freq) row per distinct word — is an RDD, and
    // each round is ONE job: per-partition pair counts reduced to the
    // bounded top-(maxBatch+1), which also materializes the previous
    // round's rewrite.
    val words = documents
      .select(explode(tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(split($"w", "").as("syms"), $"freq")
      .rdd.map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
    // top-k ordering: n DESC, then l, r ASC in UTF-8 binary order —
    // rdd.top takes the LARGEST elements, so the string legs reverse
    val rankOrd = new Ordering[((String, String), Long)] {
      def compare(a: ((String, String), Long), b: ((String, String), Long)): Int = {
        val byN = java.lang.Long.compare(a._2, b._2)
        if (byN != 0) return byN
        val byL = utf8Compare(b._1._1, a._1._1)
        if (byL != 0) return byL
        utf8Compare(b._1._2, a._1._2)
      }
    }
    def rankPairs(vocab: org.apache.spark.rdd.RDD[(Array[String], Long)]) =
      vocab
        .mapPartitions { it =>
          val acc = new java.util.HashMap[(String, String), Long]()
          it.foreach { case (syms, freq) =>
            var i = 0
            while (i < syms.length - 1) {
              acc.merge((syms(i), syms(i + 1)), freq, _ + _)
              i += 1
            }
          }
          import scala.jdk.CollectionConverters._
          acc.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue))
        }
        .reduceByKey(_ + _)
        .top(maxBatch + 1)(rankOrd)
        .map { case ((l, r), n) => (l, r, n) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    DriverLoop { loop =>
      var vocab = loop.hold(words)
      // test-only instrumentation: record the vocab row count per
      // ROUND (init + one per rewrite) so the scale invariant (the loop
      // runs on a frame that never grows — one row per distinct word,
      // constant across merges) is assertable. None in production.
      vocabSizeProbe.foreach(_ += vocab.count())
      var ranked = rankPairs(vocab)
      while (step <= nMerges && ranked.nonEmpty) {
        // maximal pairwise-disjoint prefix over {l, r, l+r}, capped by
        // the remaining merge budget (see batching scaladoc)
        val cap = math.min(maxBatch, nMerges - step + 1)
        val used = scala.collection.mutable.Set.empty[String]
        var k = 0
        var blocked = false
        while (!blocked && k < math.min(cap, ranked.length)) {
          val (l, r, _) = ranked(k)
          val syms = Seq(l, r, l + r)
          if (syms.exists(used.contains)) blocked = true
          else { used ++= syms; k += 1 }
        }
        // rank-safety: a pair NEWLY created by a batched merge is
        // count-bounded by a symbol-sharing parent ranked below the
        // prefix; shrink until the last selected count strictly
        // exceeds the first excluded one so no newborn can tie or
        // pass a selected merge. k == ranked.length (< limit) means
        // the pair table is complete AND fully disjoint — then no
        // sharer exists to parent a newborn, no condition needed.
        if (k < ranked.length)
          while (k > 1 && ranked(k - 1)._3 <= ranked(k)._3) k -= 1
        val batch = ranked.take(k)
        batch.foreach { case (l, r, n) =>
          merges += ((step, l, r, l + r, n))
          step += 1
        }
        // greedy left-to-right merge: once (l,r) fuses, the fused
        // symbol is l+r and cannot re-pair as l with a following r.
        // The k disjoint rules fold in ONE pass: rules share no
        // symbols (and no rule's input is another's output), so the
        // combined fold equals applying each rule's fold in rank
        // order — one pass per round, not per merge.
        val rules = batch.map { case (l, r, _) => (l, r) }
        val next = vocab.map { case (syms, freq) =>
          (bpeGreedyFold(syms, rules), freq)
        }
        // once the budget is spent the rewrite is never read, so
        // nothing materializes it (except the test-only probe)
        ranked = loop.replace(vocab, next) { v =>
          vocabSizeProbe.foreach(_ += v.count())
          if (step <= nMerges) rankPairs(v) else Array.empty[(String, String, Long)]
        }
        vocab = next
      }
    }
    merges.toSeq.toDF("step", "left", "right", "merged", "freq")
  }

  /** One greedy left-to-right fold applying `rules` in listed order at
    * each position (first matching rule fuses — identical to the
    * pre-r20 nested-CASE/coalesce column fold; with pairwise-disjoint
    * rules at most one can match anyway).
    */
  private[graft] def bpeGreedyFold(syms: Array[String],
                                   rules: Seq[(String, String)]): Array[String] = {
    val acc = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      var fused = false
      val it = rules.iterator
      while (!fused && it.hasNext) {
        val (l, r) = it.next()
        if (acc.nonEmpty && acc.last == l && x == r) {
          acc(acc.length - 1) = l + r
          fused = true
        }
      }
      if (!fused) acc += x
      i += 1
    }
    acc.toArray
  }

  /** Apply a trained BPE merge table to the distinct-word vocabulary:
    * each word's character array is rewritten by every merge in rank
    * order with the same greedy left-fold the trainer uses. Returns
    * one row per distinct lowercased word: (w, syms).
    *
    * Rank-order sequential application is EQUIVALENT to the classic
    * iterative lowest-rank-pair encode (Sennrich 2016 reference
    * implementation): fusing merge k's pair can only create new pairs
    * that contain the fused symbol, and any merge consuming that
    * symbol was necessarily trained after k — so by the time merge k
    * runs, no earlier merge can ever apply again. The spec pins this
    * empirically against a plain-Scala reference encoder over every
    * distinct corpus word (NewOpsSpec).
    *
    * Scale shape: the merge table is driver-resident by construction
    * (one row per merge round — [[bpeTrain]]'s bounded certificate),
    * and the rewrite runs on the distinct-word vocabulary, never the
    * corpus: one map over the words, each folded through the merges
    * one rule at a time. A plain per-row loop, not column
    * expressions, so a production-size table (1000s of merges) costs
    * no analysis or codegen and never grows an expression tree.
    */
  def bpeApplyMerges(vocabWords: DataFrame,
                     merges: Seq[(String, String)]): DataFrame = {
    val spark = vocabWords.sparkSession
    val out = vocabWords.select($"w").rdd.map { row =>
      val w = row.getString(0)
      var syms = w.split("")
      merges.foreach { rule => syms = bpeGreedyFold(syms, Seq(rule)) }
      org.apache.spark.sql.Row(w, syms.toSeq)
    }
    spark.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("syms",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
  }

  /** BPE corpus encoding (q102): train a merge table on the corpus
    * ([[bpeTrain]]), apply it to the distinct-word vocabulary
    * ([[bpeApplyMerges]]), and join subword counts back to the
    * corpus — per document, the word count and the exact subword
    * token count under the trained tokenizer. This closes the
    * tokenizer loop the reference pipeline needs around q100: train
    * once, then price every document in learned-subword tokens (the
    * unit training budgets are actually written in).
    *
    * Scale shape: three corpus scans (train's vocab collapse, the
    * encode vocab collapse, the join-back) — each collapses or joins
    * through the distinct-word vocabulary, so nothing pairs at corpus
    * scale; the word→n_sub join is an equi-join AQE sizes (the vocab
    * frame broadcasts whenever it fits). Iterative and therefore
    * rows-only in the oracle gate; the reference-encoder equivalence,
    * merge-monotonicity, and zero-merge=character-count invariants
    * are spec-pinned.
    */
  def bpeEncode(documents: DataFrame, nMerges: Int = 10): DataFrame = {
    val merges = bpeTrain(documents, nMerges).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val words = documents
      .select(explode(tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "")
      .distinct()
    val enc = bpeApplyMerges(words, merges)
      .select($"w", size($"syms").cast("long").as("n_sub"))
    documents
      .select($"doc_id", explode(tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "")
      .join(enc, Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"), sum($"n_sub").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** Top-k terms per language by raw frequency (the corpus-vocabulary
    * profile a curation pipeline builds before filtering). One explode
    * + one (lang, term) count with map-side combine; the final per-lang
    * top-k window runs on the already-aggregated vocabulary, which is
    * orders of magnitude smaller than the corpus.
    */
  def termFreqTopK(documents: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select($"lang", explode(tokens(lower($"text"))).as("term"))
      .groupBy($"lang", $"term")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"term")
    counts
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"lang", $"term", $"n", $"rank")
      .orderBy($"lang", $"rank")
  }

  /** BM25-family relevance ranking for a fixed query-term set.
    *
    * Term frequencies land in one fixed column per query term (a
    * conditional-sum pivot), so the cross-term score sum has a FIXED
    * evaluation order — float addition is non-associative, and a
    * groupBy-sum over per-term rows would make the score depend on
    * aggregation order (breaking run-to-run determinism AND oracle
    * parity). The idf factor is the rational Robertson form
    * (N - df + 0.5)/(df + 0.5) *without* the log: log is monotone per
    * term but its parity across engines is not guaranteed to the last
    * ulp, while the rational form is a quotient of exact integers —
    * deterministic everywhere. Corpus stats (N, df, avgdl) are one
    * broadcast row; the scoring pass is a narrow projection. The k1/b
    * defaults are dyadic rationals (1.25, 0.75) — exactly
    * representable doubles, so constant arithmetic like k1+1 carries
    * zero cross-engine literal-rounding risk.
    */
  def bm25Rank(documents: DataFrame, terms: Seq[String],
               topN: Int = 20, k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.toSet.size == terms.size)
    val toks = documents
      .select($"doc_id", explode(tokens(lower($"text"))).as("t"))
    val tfCols = terms.map(t =>
      sum(when($"t" === t, 1L).otherwise(0L)).as(s"tf_$t"))
    val perDoc = toks.groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val statCols =
      Seq(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl")) ++
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs")
    val score = terms.map { t =>
      val tf = col(s"tf_$t").cast("double")
      val idf = ($"n_docs" - col(s"df_$t") + lit(0.5)) /
        (col(s"df_$t") + lit(0.5))
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * $"dl" / $"avgdl"))
    }.reduce(_ + _)
    // top-N via orderBy+limit (TakeOrderedAndProject: per-partition
    // heads merged on the driver — no global sort shuffle over the
    // corpus, unlike a row_number window); rank is then a window over
    // the N surviving rows only
    val top = scored
      .withColumn("score", score)
      .select($"doc_id", $"dl", $"score")
      .orderBy($"score".desc, $"doc_id")
      .limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"doc_id")
    top
      .withColumn("rank", row_number().over(w))
      .select($"doc_id", $"dl", $"score", $"rank")
      .orderBy($"rank")
  }

  /** Gopher/C4-style composite quality-rule screen (q93): per-document
    * named boolean rules, aggregated to per-(lang, source) failure
    * counts — the audit table a curation run publishes before dropping
    * documents. Unlike q31's scalar score, each rule is a separate
    * flag so the report says WHICH rule rejected how much of each
    * slice.
    *
    * Every threshold is integer-exact (cross-multiplied, never a float
    * ratio), so the oracle hash cannot drift:
    *   - len:  20 ≤ n_tokens ≤ 1000          (too short / too long)
    *   - mwl:  3·n ≤ Σ|token| ≤ 10·n         (mean word length 3..10)
    *   - stop: ≥ 2 stopword occurrences       (natural-language signal)
    *   - rep:  4·max_tf ≤ n_tokens            (no word >25% of the doc)
    *   - div:  8·n_distinct ≥ n_tokens        (type-token ratio ≥ ⅛)
    *
    * Scale: one explode to (doc_id, token) with map-side combine on
    * the (doc, token) count, a per-doc reduce, then a tiny
    * (lang, source) rollup — no windows, no joins, no collect. The
    * widest shuffle key is (doc_id, token), the same class q70/q91
    * already carry.
    */
  def qualityRules(documents: DataFrame): DataFrame = {
    val perTok = documents
      .select($"doc_id", $"lang", $"source",
        explode(tokens($"text")).as("t"))
      .groupBy($"doc_id", $"lang", $"source", $"t")
      .agg(count(lit(1)).as("tf"))
    val perDoc = perTok
      .groupBy($"doc_id", $"lang", $"source")
      .agg(
        sum($"tf").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max($"tf").as("max_tf"),
        sum($"tf" * length($"t")).as("n_letters"),
        sum(when($"t".isInCollection(stopwords), $"tf")
          .otherwise(0L)).as("n_stop"))
      .withColumn("fail_len",
        !$"n_tokens".between(20L, 1000L))
      .withColumn("fail_mwl",
        $"n_letters" < $"n_tokens" * 3 || $"n_letters" > $"n_tokens" * 10)
      .withColumn("fail_stop", $"n_stop" < 2)
      .withColumn("fail_rep", $"max_tf" * 4 > $"n_tokens")
      .withColumn("fail_div", $"n_distinct" * 8 < $"n_tokens")
    perDoc
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"fail_len".cast("long")).as("n_fail_len"),
        sum($"fail_mwl".cast("long")).as("n_fail_mwl"),
        sum($"fail_stop".cast("long")).as("n_fail_stop"),
        sum($"fail_rep".cast("long")).as("n_fail_rep"),
        sum($"fail_div".cast("long")).as("n_fail_div"),
        sum((!($"fail_len" || $"fail_mwl" || $"fail_stop" ||
          $"fail_rep" || $"fail_div")).cast("long")).as("n_pass"))
      .orderBy($"lang", $"source")
  }

  /** Inverted-index build (q96): term → document-frequency, total
    * occurrences, and a CAPPED posting list (first `maxPostings`
    * doc_ids, ascending) — the retrieval structure a corpus search /
    * contamination tool materializes.
    *
    * The cap is the scale contract: postings for a hot term are
    * unbounded (the "the" problem), so the per-term list is cut to the
    * first K doc_ids via a row_number window PARTITIONED BY TERM
    * (never global) *before* any collect_list — the aggregation only
    * ever buffers ≤ K ids per term. df/tf_total still come from full
    * (unbuffered) counting aggregates. At 100 TB the same plan holds:
    * the window key is the term (high cardinality, skew handled by
    * AQE), and the materialized index is O(|vocab| · K).
    */
  def invertedIndex(documents: DataFrame, maxPostings: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE lineage: term-level df/tf_total are unbounded windows over
    // the SAME term partitioning the posting-cap row_number uses (one
    // exchange serves both window frames and the final groupBy), so
    // the stats see every posting while the list is capped — round
    // 7's separate stats aggregate re-derived the tokenize+explode
    // lineage and scanned documents twice
    val perTok = documents
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"term").orderBy($"doc_id")
    val wAll = Window.partitionBy($"term")
    perTok
      .withColumn("rn", row_number().over(w))
      .withColumn("df", count(lit(1)).over(wAll))
      .withColumn("tf_total", sum($"tf").over(wAll))
      .filter($"rn" <= maxPostings)
      .groupBy($"term")
      .agg(first($"df").as("df"), first($"tf_total").as("tf_total"),
        array_join(
          sort_array(collect_list($"doc_id")).cast("array<string>"), ",")
          .as("postings"))
      .select($"term", $"df", $"tf_total", $"postings")
      .orderBy($"term")
  }

  /** Sliding-window document chunking (q118) — the chunk-with-overlap
    * step every RAG / embedding-indexing pipeline runs before
    * vectorizing: fixed [[ChunkLen]]-token windows at [[ChunkStride]]
    * steps, plus a tail window anchored at n−C when the stride
    * doesn't land there (without it the last n−C mod S tokens of
    * every document silently vanish from the index — the classic
    * chunker off-by-one). One row per (doc, window) with the token
    * span and the reassembled chunk text; documents shorter than one
    * window yield exactly one short chunk.
    *
    * Scale shape: map-only — tokenize, build the start list as an
    * array expression, posexplode. No shuffle except the output
    * ordering; expansion is ~C/S rows per document by construction.
    * All integer spans + deterministic string reassembly, so the
    * whole thing hash-oracles.
    */
  val ChunkLen = 64
  val ChunkStride = 16

  def chunkWindows(documents: DataFrame, c: Int = ChunkLen,
                   stride: Int = ChunkStride): DataFrame = {
    val base = documents
      .select($"doc_id",
        filter(tokens(lower($"text")), w => w =!= "").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .filter($"n" > 0)
    base
      .withColumn("starts", array_sort(array_distinct(concat(
        sequence(lit(0L), greatest($"n" - c, lit(0L)), lit(stride.toLong)),
        array(greatest($"n" - c, lit(0L)))))))
      .select($"doc_id", $"toks", $"n",
        posexplode($"starts").as(Seq("chunk_id", "start")))
      .select($"doc_id", $"chunk_id", $"start",
        least(lit(c.toLong), $"n" - $"start").as("chunk_len"),
        array_join(slice($"toks", ($"start" + 1).cast("int"), lit(c)), " ")
          .as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Two-pass heavy hitters over the corpus vocabulary (q113): pass 1
    * runs a mergeable Misra-Gries summary
    * ([[graft.functions.WeightedMisraGries]] with weight 1 per token,
    * capacity [[HhCapacity]]) to a CANDIDATE set; pass 2 recounts just
    * the candidates exactly and keeps terms above the frequency
    * threshold n_tokens / [[HhDenom]]. The sketch guarantees every
    * term with true frequency > n/(capacity+1) is retained regardless
    * of partitioning or merge order, and capacity+1 > HhDenom makes
    * the guarantee cover the threshold — so the FINAL output is fully
    * deterministic (exact counts, exact integer gate) even though the
    * intermediate counter values are not, and the query oracles
    * hash-exact against plain GROUP BY/HAVING SQL.
    *
    * Why not just GROUP BY at 100 TB: the exact aggregate shuffles
    * the full (term, count) vocabulary — billions of distinct terms
    * for web-scale n-gram vocabularies — while the sketch pass is one
    * scan producing a ≤(capacity + purgeK)-row summary per partition with a
    * constant-size merge tree, and the recount pass semi-joins a
    * broadcast candidate list so only candidate rows shuffle. The
    * sketch's additive-error merge bound is spec-pinned in NewOpsSpec
    * against adversarial partitionings.
    */
  val HhCapacity = 256
  val HhDenom = 128L

  /** Bigram-LM fluency score per document (q112) — the CCNet-style
    * quality signal (Wenzek et al. 2020 score documents by LM
    * perplexity; here the LM is an add-one-smoothed bigram model
    * trained on the corpus itself, the self-scoring variant). Each
    * document's score is the mean conditional bigram probability
    *
    *   avg_p = (1/n) Σ_i  (c2(prev_i, w_i) + 1) / (c1(prev_i) + V)
    *
    * with a `<s>` start marker, corpus-wide bigram/context counts and
    * vocabulary size V. Predictable, repetitive text scores high;
    * incoherent token soup scores low — the downstream curation move
    * is a threshold or stratified keep on this column (q82/q94).
    *
    * Float-parity design (the q74 discipline, extended to per-group
    * sums): every probability is integer arithmetic then ONE double
    * division (IEEE-exact, engine-identical), and the per-document
    * sum — the first float sum over a variable-size group in the
    * oracled set — is made order-deterministic by folding the
    * position-sorted probability list (`sort_array(collect_list)` +
    * `aggregate`; DuckDB mirrors with list_sort + list_reduce), so
    * both engines add the same doubles in the same order and the
    * result hash-matches exactly.
    *
    * Scale shape: counts collapse the token stream to the bigram
    * vocabulary with map-side combine (c1 and V are derived from the
    * c2 frame, not re-scanned); scoring re-derives the token stream
    * (2 declared corpus scans, the q24 trade at the point where
    * checkpointing a corpus-sized frame would cost more than the
    * rescan) and equi-joins it with the bigram-count frame — AQE
    * broadcasts when the vocabulary fits, shuffles on (prev, w)
    * otherwise. The per-doc collect_list is bounded by document
    * length, the same envelope every tokenize-explode operator here
    * lives under.
    */
  def lmFluency(documents: DataFrame): DataFrame = {
    // fan the scan before the tokenize+posexplode pass — it runs
    // twice (the c2 collapse and the final join probe), both serial
    // off the one-row-group local file (identity at scale, Par.fan)
    val toksA = Par.fan(documents, $"doc_id")
      .select($"doc_id", tokens(lower($"text")).as("arr0"))
      .select($"doc_id", filter($"arr0", w => w =!= "").as("arr"))
      .filter(size($"arr") > 0)
    val bi = toksA
      .select($"doc_id", $"arr", posexplode($"arr").as(Seq("pos", "w")))
      .select($"doc_id", $"pos", $"w",
        when($"pos" === 0, lit("<s>"))
          .otherwise(element_at($"arr", $"pos")).as("prev"))
    val c2 = bi.groupBy($"prev", $"w").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val c1 = c2.groupBy($"prev").agg(sum($"c2").as("c1"))
    val voc = c2.agg(countDistinct($"w").as("vsz"))
    // join the two count tables FIRST (both derive from the bounded
    // checkpointed bigram table), so the token-level frame `bi` is
    // shuffled once on (prev, w) instead of once more on prev —
    // guide §2.4; row-for-row the same (c2, c1) reach each bigram
    val stats = c2.join(c1, Seq("prev"))
    bi.join(stats, Seq("prev", "w"))
      .crossJoin(broadcast(voc))
      .select($"doc_id", $"pos",
        (($"c2" + 1).cast("double") /
          ($"c1" + $"vsz").cast("double")).as("p"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct($"pos", $"p"))).as("ps"))
      .select($"doc_id", $"n_bigrams",
        (aggregate($"ps", lit(0.0), (acc, s) => acc + s("p")) /
          $"n_bigrams".cast("double")).as("avg_p"))
      .orderBy($"doc_id")
  }

  def heavyHitters(documents: DataFrame): DataFrame = {
    import graft.functions.WeightedMisraGries
    val toks = documents
      .select(explode(tokens(lower($"text"))).as("w"))
      .filter($"w" =!= "")
    // pass 1: sketch + token total in ONE aggregation (one corpus
    // scan), eagerly materialized — the one-row certificate both the
    // candidate list and the threshold read from
    val p1 = toks
      .agg(WeightedMisraGries.candidates($"w", lit(1L), HhCapacity).as("cand"),
        count(lit(1)).as("n_tokens"))
      .localCheckpoint(true)
    val cands = p1.select(explode($"cand").as("w"))
    toks.join(broadcast(cands), Seq("w"))
      .groupBy($"w")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(p1.select($"n_tokens")))
      .filter($"n" * HhDenom > $"n_tokens")
      .select($"w".as("term"), $"n", $"n_tokens")
      .orderBy($"n".desc, $"term")
  }
}
