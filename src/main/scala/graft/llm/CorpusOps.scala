package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DecimalType,
  DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Corpus-wide (two-pass) training-data operators: benchmark decontamination,
  * TF-IDF keyword extraction, and unigram language-model scoring.
  *
  * Broadcast discipline: only relations that are small BY CONSTRUCTION get an
  * explicit `broadcast()` hint — benchmark n-gram sets (eval suites are MBs
  * against a 100 TB corpus) and single-row global stats. Corpus-DERIVED
  * relations whose size scales with the data (the document-frequency and
  * unigram tables — tens of GB of distinct tokens at web scale) are joined
  * WITHOUT a hint: AQE broadcasts them when they measure small and falls back
  * to a shuffle join when they don't, instead of OOMing the driver on a
  * mandatory build.
  */
object CorpusOps {

  /** Word n-grams of the lowercased text as space-joined strings. The token
    * array is let-bound once per row (see DedupOps.shingles for why: a
    * `tokens(text)` subtree inside the per-gram lambda would re-tokenize the
    * document once per gram — O(len²)). */
  def wordNgrams(text: Column, n: Int): Column =
    element_at(transform(array(TextOps.tokens(lower(text))), { ws =>
      // sequence(1, 0) DESCENDS in Spark, so guard short docs explicitly
      when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(ws) - (n - 1)),
          i => array_join(slice(ws, i, lit(n)), " ")))
    }), 1)

  /** Benchmark decontamination (the n-gram-overlap check run before training
    * on any corpus that may contain eval data): a document is contaminated
    * when it shares at least one word `n`-gram with the benchmark set.
    * Returns `(idCol, n_hit_grams, contaminated)` for every corpus document.
    *
    * Scale: the benchmark gram set is distinct'd and broadcast (eval suites
    * are MBs against a 100 TB corpus); corpus grams are distinct'd per doc
    * (one shuffle on (id, gram) — Spark plans the distinct as partial
    * aggregation first) and then map-side joined against the broadcast. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 8, hashGrams: Boolean = false): DataFrame = {
    // hashGrams: ship xxhash64(gram) instead of the gram text — same plan,
    // 8-byte shuffle/broadcast payload; the oracle uses the string mode
    def grams(df: DataFrame) = {
      val e = df.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("gram"))
      if (hashGrams) e.withColumn("gram", xxhash64(col("gram"))) else e
    }
    val benchGrams = grams(bench).select("gram").distinct()
    val docGrams = grams(corpus).distinct()
    val hits = docGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol).agg(count("*").as("n_hit_grams"))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left").select(
      col(idCol),
      coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
      (coalesce(col("n_hit_grams"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Bloom-filter decontamination — the ZERO-SHUFFLE scale path for
    * [[decontaminate]]: build a Bloom filter over the benchmark's n-grams
    * (driver-side aggregate of the MB-scale eval suite), broadcast the
    * bits, and probe every corpus doc's grams map-side with an `exists`
    * over the per-row gram array. No corpus-side explode, no distinct, no
    * join — at 100 TB the corpus is touched by exactly one codegen'd scan,
    * which is why production pipelines run the Bloom probe first and feed
    * only the (rare) positives to the exact join for confirmation.
    *
    * Bloom semantics: NO false negatives — every truly contaminated doc is
    * flagged (the guarantee [[bloomSupersetCheck]] pins against the exact
    * probe) — and false positives COMPOUND per probe: a doc with g grams
    * false-flags with probability ~g·fpp, so size `fpp` well below
    * 1/gramsPerDoc (1e-6 here costs ~29 bits/gram — still KBs for an eval
    * suite). `contaminated` means "needs the exact check", not "drop
    * unseen". Spark's
    * `BloomFilter.put/mightContain` hashes with fixed-seed Murmur3 — the
    * filter is deterministic for a given (items, n, fpp), but NOT
    * replayable in SQL engines, hence the superset-check twin rather than
    * a hash-matched oracle. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val benchGrams = bench
      .select(explode(wordNgrams(col(textCol), n)).as("gram")).distinct()
    val expected = math.max(1L, benchGrams.count())
    val bf = benchGrams.stat.bloomFilter("gram", expected, fpp)
    val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
    val hit = udf((g: String) => g != null && bfB.value.mightContainString(g))
    corpus.select(col(idCol),
      when(exists(wordNgrams(col(textCol), n), g => hit(g)), lit(1))
        .otherwise(lit(0)).as("contaminated"))
  }

  /** One-row contract for [[decontaminateBloom]]: the Bloom flag set must
    * be a SUPERSET of the exact flag set (no false negatives) and the
    * false-positive overshoot must stay within `maxFpDocs`. The booleans
    * are the oracle-checkable surface — DuckDB recomputes `n_docs` and
    * `n_exact` exactly and asserts both flags true; a Bloom regression
    * (missed contamination, or fpp blow-up) flips a bit and fails the
    * hash compare. */
  def bloomSupersetCheck(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8, fpp: Double = 0.01,
      maxFpDocs: Long = 50L): DataFrame = {
    val exact = decontaminate(corpus, bench, textCol, idCol, n)
      .select(col(idCol), col("contaminated").as("__exact"))
    val bloom = decontaminateBloom(corpus, bench, textCol, idCol, n, fpp)
      .select(col(idCol), col("contaminated").as("__bloom"))
    exact.join(bloom, Seq(idCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__exact")).as("n_exact"),
        max(when(col("__exact") === 1 && col("__bloom") === 0, 1)
          .otherwise(0)).as("__fn"),
        sum(when(col("__bloom") === 1 && col("__exact") === 0, 1)
          .otherwise(0)).as("__fp"))
      .select(col("n_docs"), col("n_exact"),
        (coalesce(col("__fn"), lit(0)) === 0).as("no_false_negatives"),
        (coalesce(col("__fp"), lit(0L)) <= maxFpDocs).as("fp_within_bound"))
  }

  /** Per-key document cap (the C4/RefinedWeb "at most N pages per domain"
    * downsampling step): keep at most `maxPerKey` docs per key, chosen
    * DETERMINISTICALLY by md5(id) priority so every engine, run, and retry
    * keeps the same documents.
    *
    * Skew-safe shape: a bounded top-N AGGREGATE ([[graft.functions
    * .BoundedTopK]]) instead of `row_number()` over a per-key window. The
    * window form hashes EVERY row of a key to one task and sorts it there —
    * a domain that is 5 % of a 100 TB corpus stalls the stage on one
    * executor. The aggregate gets map-side partial aggregation: each input
    * partition keeps at most `maxPerKey` rows per key locally, so the
    * shuffle carries ≤ maxPerKey · numPartitions rows per key no matter how
    * skewed the raw counts, and the reduce-side merge is O(partitions · k).
    * The result is exactly the window's: the k smallest (md5(id), id) rows
    * per key. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      maxPerKey: Int): DataFrame = {
    require(maxPerKey > 0, s"maxPerKey must be positive: $maxPerKey")
    val payload = struct(df.columns.map(col): _*)
    val packed = struct(md5(col(idCol).cast("string")).as("__pri"),
      col(idCol).cast("string").as("__tie"), payload.as("__row"))
    df.groupBy(col(keyCol).as("__capkey"))
      .agg(graft.functions.BoundedTopK.sortedTopK(
        packed, Seq(true, true), maxPerKey).as("__kept"))
      .select(explode(col("__kept")).as("__k"))
      .select(col("__k.__row.*"))
  }

  /** Token-budgeted per-source selection (the mixture-building step that
    * follows [[sourceOverlap]]/mixture weighting): within each source,
    * keep documents in (quality desc, id asc) order while the RUNNING
    * token total stays within `budgetTokens` — the document that crosses
    * the budget is the last one kept, so every source with data
    * contributes at least one document. Emits the kept rows with their
    * in-source rank and cumulative token count.
    *
    * 100 TB shape: one exchange on the source key and one in-partition
    * sort (the window's ORDER BY) — the cumulative sum is per-source
    * state, never global. When a single source is too large to sort,
    * pre-prune with a sampled quality-quantile threshold (keep only docs
    * above the approximate cut that the budget implies — the
    * [[quantileSketchCheck]] sketch gives it in one pass) and run the
    * exact window on the survivors; the semantics below are the exact
    * reference. */
  def tokenBudgetSelect(df: DataFrame, srcCol: String, idCol: String,
      qualityCol: String, tokensCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0,
      s"budgetTokens must be positive: $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    df.select(col(srcCol), col(idCol), col(qualityCol),
        col(tokensCol).cast(LongType).as("__tk"))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tokens", sum(col("__tk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // keep while the PREVIOUS cumulative total was under budget: the
      // crossing document is included, everything after it dropped
      .filter(col("cum_tokens") - col("__tk") < budgetTokens)
      .select(col(srcCol), col(idCol), col(qualityCol),
        col("__tk").as("n_tokens"), col("rank"), col("cum_tokens"))
  }

  /** FUZZY benchmark decontamination — the near-duplicate complement of
    * [[decontaminate]]'s exact n-gram probe: a corpus doc is flagged when
    * it is MinHash-near-duplicate to any benchmark doc (banded-bucket
    * candidates, true shingle-Jaccard verify at `threshold`). Returns one
    * row per contaminated (corpus doc, benchmark doc) pair with the
    * verified jaccard.
    *
    * Hash family is [[DedupOps.md5Lower63]], so the decision replays
    * bit-for-bit in any engine with md5 (the DuckDB oracle replays the
    * whole pipeline). Candidates only form inside a (band, bucket); the
    * benchmark side is an eval suite (MBs against a 100 TB corpus), so its
    * banded relation broadcasts and the corpus is never self-joined. */
  def decontaminateFuzzy(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, shingleK: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      md5Mode: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      val sh = df.select(col(idCol).as("doc"),
        DedupOps.shingles(col(textCol), shingleK).as("sh"))
        .filter(size(col("sh")) > 0)
      // md5 family for external replay (the DuckDB oracle), fused xxhash64
      // (graft.functions.MinHashAgg) for production throughput
      val sigs = sh.select(col("doc"), explode(col("sh")).as("shingle"))
        .groupBy("doc")
        .agg((if (md5Mode)
          graft.functions.Md5HashAggs.minhash(col("shingle"), numHashes)
        else graft.functions.HashAggs.minhash(col("shingle"), numHashes))
          .as("sig"))
      val banded = sigs.select(col("doc"),
        posexplode(array((0 until bands).map(b =>
          concat_ws(",", transform(
            slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)),
            x => x.cast("string")))): _*))
          .as(Seq("band", "bucket")))
      (sh, banded)
    }
    val (corpusSh, corpusBanded) = prep(corpus)
    val (benchSh, benchBanded) = prep(bench)
    val candidates = corpusBanded
      .join(broadcast(benchBanded
        .select(col("band"), col("bucket"), col("doc").as("bench_id"))),
        Seq("band", "bucket"))
      .select(col("doc"), col("bench_id"))
      .dropDuplicates("doc", "bench_id")
    candidates
      .join(corpusSh.select(col("doc"), col("sh").as("sh_c")), "doc")
      .join(broadcast(benchSh.select(col("doc").as("bench_id"), col("sh").as("sh_b"))),
        "bench_id")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_c"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_c"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc").as(idCol), col("bench_id"), col("jaccard"))
  }

  /** Top-k TF-IDF terms per document, emitted as a comma-joined string in
    * rank order (array outputs crash the driver's pandas row sort).
    *
    * The idf is the PLAIN ratio nDocs/df, not log(nDocs/df): ordering is the
    * same (log is monotone) but the ratio is a single IEEE division, so both
    * engines produce bit-identical scores — a log() idf risks 1-ulp
    * cross-library rank flips between mathematically-equal scores (e.g.
    * tf=2 over idf=25 vs tf=4 over idf=5). Ties break on the term itself. */
  def tfidfTopK(corpus: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val tf = corpus
      .select(col(idCol), explode(TextOps.tokens(lower(col(textCol)))).as("word"))
      .groupBy(idCol, "word").agg(count("*").as("tf"))
    val dfTab = tf.groupBy("word").agg(count("*").as("df"))
    val nDocs = corpus.select(col(idCol)).distinct().agg(count("*").as("n_docs"))
    // dfTab scales with the corpus vocabulary (tens of GB of distinct tokens
    // at web scale) — NO broadcast hint; AQE picks broadcast only when it
    // measures small. nDocs is one row, hint it.
    tf.join(dfTab, Seq("word")).crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * (col("n_docs").cast("double") / col("df")))
      .groupBy(idCol)
      // per-doc top-k without a global window: sort the collected (score desc,
      // word) structs and slice — the doc's term list is small by definition
      .agg(concat_ws(",", transform(
        slice(array_sort(collect_list(struct((col("score") * -1).as("negs"),
          col("word").as("w")))), 1, k),
        s => s.getField("w"))).as("top_terms"))
  }

  /** Per-document average unigram log-probability under the corpus's own
    * unigram distribution — the cheap "perplexity" quality signal used to
    * rank documents before a real LM scores them. The per-word log-prob is
    * quantized to a scaled long (`round(logp·10⁹)`) BEFORE the per-doc
    * aggregation, so `sum(tf·logp)` is an exact integer — independent of
    * the partial-aggregation merge order — and the 4-dp `avg_logp` is one
    * IEEE division over exact integers, identical in both engines. */
  def unigramLogProb(corpus: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = corpus
      .select(col(idCol), explode(TextOps.tokens(lower(col(textCol)))).as("word"))
      .groupBy(idCol, "word").agg(count("*").as("tf"))
    val uni = tf.groupBy("word").agg(sum("tf").as("cnt"))
    val tot = uni.agg(sum("cnt").as("total"))
    val probs = uni.crossJoin(broadcast(tot))
      .select(col("word"),
        round(log(col("cnt").cast("double") / col("total")) * 1e9, 0)
          .cast(LongType).as("logpq"))
    // probs is vocabulary-sized — no broadcast hint (see tfidfTopK); the
    // single-row `tot` above keeps its hint.
    tf.join(probs, Seq("word"))
      .groupBy(idCol)
      .agg(round(sum(col("tf") * col("logpq")).cast(DoubleType) /
          sum(col("tf")).cast(DoubleType) / 1e9, 4).as("avg_logp"),
        sum("tf").cast("long").as("n_tokens"))
  }

  /** Span-level SURGICAL decontamination: instead of dropping a whole
    * document on benchmark overlap ([[decontaminate]]), erase exactly the
    * overlapping n-gram windows (union of covers) and keep the rest — the
    * PaLM-style "remove the contaminated section" policy that saves the
    * 99% of a long doc that never touched the eval suite. Matching uses
    * the same lowercased-token n-grams as the doc-level probe;
    * reassembly keeps the ORIGINAL token casing (positions align — the
    * [[DedupOps.dropDuplicateSpans]] machinery pointed at a benchmark
    * gram set rather than cross-doc duplicates).
    *
    * Scale: bench grams broadcast (MBs vs the corpus); the corpus-side
    * window explode is O(total tokens) rows of (id, pos, 8-byte hash);
    * cover reassembly is one per-doc collect_set bounded by doc length. */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    require(n >= 1)
    val base = corpus.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"),
      TextOps.tokens(lower(col(textCol))).as("__lt"))
    val wins = base
      .filter(size(col("__lt")) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__lt")) - n),
        i => DedupOps.md5Lower63(
          concat_ws(" ", slice(col("__lt"), i + 1, lit(n))))))
        .as(Seq("__pos", "__hv")))
    val benchGrams = bench
      .select(explode(wordNgrams(col(textCol), n)).as("__g"))
      .select(DedupOps.md5Lower63(col("__g")).as("__hv")).distinct()
    val cov = wins.join(broadcast(benchGrams), Seq("__hv"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (n - 1))).as("__p"))
      .groupBy(idCol).agg(collect_set(col("__p")).as("__cov"))
    base.join(cov, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", filter(col("__toks"),
          (_, i) => !array_contains(
            coalesce(col("__cov"), array().cast(ArrayType(IntegerType))), i)))
          .as("clean_text"),
        size(col("__toks")).as("n_tokens"),
        when(col("__cov").isNull, lit(0)).otherwise(size(col("__cov")))
          .as("n_removed"))
  }

  /** Interpolated bigram language-model scoring — the CCNet recipe's
    * "small LM perplexity" step upgraded from [[unigramLogProb]]'s
    * order-0 model: per-bigram term
    * `ln(λ·P(w₂|w₁) + μ·P(w₂))` with MLE estimates from the corpus
    * itself (the LM trains on what it scores, so every doc bigram exists
    * in the table — interpolation, not smoothing, handles rare events).
    * `λ`/`μ` are passed separately (not `1−λ`) so the SQL oracle can use
    * the identical double literals.
    *
    * Scale shape mirrors [[unigramLogProb]]: the bigram/unigram tables
    * are corpus-derived (tens of GB of distinct n-grams at web scale), so
    * their joins carry NO broadcast hint — AQE decides; only the
    * single-row total keeps one. Docs with < 2 tokens have no bigrams and
    * drop out (inner-join semantics, mirrored by the oracle). */
  def bigramLogProb(corpus: DataFrame, textCol: String, idCol: String,
      lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    require(math.abs(lambda + mu - 1.0) < 1e-9, "lambda + mu must be 1")
    val toks = TextOps.tokens(lower(col(textCol)))
    val base = corpus.select(col(idCol), toks.as("__toks"))
    val len = greatest(size(col("__toks")) - 1, lit(0))
    val bg = base.select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), len), slice(col("__toks"), lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val docBg = bg.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val bgCnt = docBg.groupBy("w1", "w2").agg(sum("tf").as("cb"))
    val uni = base.select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("total"))
    val terms = docBg
      .join(bgCnt, Seq("w1", "w2"))
      .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      // per-bigram log-prob quantized to a scaled long before the per-doc
      // sum: exact integer aggregation, summation-order-free (see
      // unigramLogProb)
      .select(col(idCol), col("tf"),
        round(log(lit(lambda) * col("cb").cast("double") / col("cu1") +
            lit(mu) * col("cu2").cast("double") / col("total")) * 1e9, 0)
          .cast(LongType).as("__termq"))
    terms.groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("__termq")).cast(DoubleType) /
            sum(col("tf")).cast(DoubleType) / 1e9, 4)
          .as("avg_logp2"),
        sum("tf").cast("long").as("n_bigrams"))
  }

  /** Data-mixture sampling: hit a per-source token budget by keeping each
    * doc with probability `p_s = min(1, budget·w_s/Σw / tokens_s)` — the
    * "mix web at 3×, code at 1×" reweighting step every pretraining corpus
    * goes through. Selection is DETERMINISTIC hash sampling
    * (`md5(seed:id) mod 1e6 < p_s·1e6` — the [[graft.llm.DedupOps
    * .md5Lower63]] family), so every engine, run, retry, and the SQL
    * oracle keep the identical doc set; expected kept tokens per source =
    * its budget share (saturated sources keep everything).
    *
    * Returns every doc as `(idCol, sourceCol, n_tokens, p_keep, kept)` —
    * callers filter on `kept`; emitting the verdict instead of dropping
    * keeps the op auditable (per-source realized rates are one groupBy
    * away).
    *
    * Scale: one token-count scan (columnar), one source-keyed aggregate
    * (map-side partial sums — #sources rows survive), the per-source rate
    * re-joined (broadcast at typical source/domain cardinalities; at
    * millions of domains drop the hint and let AQE choose). Sources
    * missing from `weights` rate as 0 and are dropped. */
  def mixtureSample(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, weights: Map[String, Double], budgetTokens: Long,
      seed: String = "mix"): DataFrame = {
    val wSum = weights.values.sum
    require(wSum > 0, "mixtureSample: weights must sum positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = weights.toSeq.toDF(sourceCol, "__w")
    val base = df.select(col(idCol), col(sourceCol),
      TextOps.tokenCount(col(textCol)).as("n_tokens"))
    val rates = base.groupBy(sourceCol).agg(sum("n_tokens").as("__ts"))
      .join(broadcast(wDf), Seq(sourceCol), "left")
      .select(col(sourceCol),
        least(lit(1.0),
          lit(budgetTokens.toDouble) * coalesce(col("__w"), lit(0.0)) /
            lit(wSum) / col("__ts")).as("__p"))
    base.join(broadcast(rates), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        round(col("__p"), 6).as("p_keep"),
        (pmod(DedupOps.md5Lower63(
          concat(lit(seed + ":"), col(idCol).cast(StringType))),
          lit(1000000L)) <
          floor(col("__p") * 1000000).cast(LongType)).as("kept"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019): score every
    * doc by its perplexity under the corpus unigram LM
    * ([[unigramLogProb]]), rank corpus-wide, and cut into `nBuckets`
    * equal-population quality bands (bucket 0 = lowest perplexity =
    * "head"). The real CCNet uses a 5-gram KenLM; the unigram model keeps
    * the operator dependency-free while exercising the identical
    * distributed shape (LM scoring pass + global rank + banding).
    *
    * Ranking is on `avg_logp` (descending — monotone in perplexity), NOT
    * on the derived `ppl` column: both engines rank the identical rounded
    * quantity, so a tie can never straddle engines differently via the
    * extra exp/round step. The global rank is [[graft.operators
    * .GlobalRank]] — range-repartition + per-partition offsets, never an
    * `Exchange SinglePartition`; ties share the min rank exactly like SQL
    * `rank()`, so the whole operator replays as one window function in
    * the oracle. Docs with zero tokens carry no LM evidence and are
    * absent (inherited from [[unigramLogProb]]'s inner join).
    *
    * `bucket = least(nBuckets-1, (rank-1)·nBuckets / n)` — rank ties land
    * in one bucket, the last bucket absorbs the remainder. */
  def perplexityBuckets(corpus: DataFrame, textCol: String, idCol: String,
      nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val lp = unigramLogProb(corpus, textCol, idCol)
      .withColumn("__neglp", -col("avg_logp"))
    val ranked = graft.operators.GlobalRank.withRank(
      lp, "__neglp", "__rk", "__n")
    ranked.select(col(idCol),
      round(exp(-col("avg_logp")), 4).as("ppl"),
      col("n_tokens"),
      least(lit(nBuckets - 1),
        floor((col("__rk") - 1) * nBuckets / col("__n")).cast(IntegerType))
        .as("bucket"))
  }

  /** BM25 top-k retrieval for a literal query (Robertson/Sparck Jones,
    * k1 = 1.2, b = 0.75 — the Lucene defaults): the lexical half of a RAG
    * retrieval stack next to [[VectorOps]]' embedding ANN.
    *
    * Shape: ONE aggregate row carries N, avgdl and the query terms'
    * document frequencies (map-side combine, a handful of doubles);
    * broadcast-cross-joined back so scoring is a pure per-doc projection;
    * the global cutoff is a TakeOrdered — no full sort materializes. At
    * 100 TB both passes stream; nothing driver-side scales with the corpus.
    * Scores round to 6 decimals and tie-break on the id so the cutoff is
    * deterministic and cross-engine comparable. */
  def bm25TopK(corpus: DataFrame, textCol: String, idCol: String,
      query: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "bm25TopK: empty query")
    val toks = TextOps.tokens(lower(col(textCol)))
    val withToks = corpus.select(col(idCol), toks.as("__toks"),
      size(toks).cast("double").as("__dl"))
    val statAggs = count(lit(1)).cast("double").as("__n") +:
      avg(col("__dl")).as("__avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("__toks"), t).cast("long"))
          .cast("double").as(s"__df$i")
      }
    val stats = withToks.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      val idf = log((col("__n") - col(s"__df$i") + 0.5) /
        (col(s"__df$i") + 0.5) + 1.0)
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    withToks.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009; the combination rule of
    * Mongo 8.1's `$rankFusion` and Atlas hybrid search): fuse weighted
    * candidate rankings — e.g. [[bm25TopK]] lexical + [[VectorOps]] cosine —
    * into one top-k. score(d) = Σ_r w_r / (rrfK + rank_r(d)); documents a
    * ranking missed contribute 0 from it.
    *
    * Each input frame needs `idCol` and an integer `rank` column (1-based).
    * Inputs are CANDIDATE lists (already cut to their own top-n), so this
    * unions a few small frames and aggregates — nothing here scales with
    * the corpus. */
  def rrfFusion(rankings: Seq[(DataFrame, Double)], idCol: String, k: Int,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFusion: no rankings")
    // each contribution quantized to a scaled long → the fused sum is an
    // exact integer, summation-order-free (see unigramLogProb)
    val scored = rankings.map { case (df, w) =>
      df.select(col(idCol),
        round(lit(w) / (lit(rrfK) + col("rank")) * 1e9, 0)
          .cast(LongType).as("__rrfq"))
    }.reduce(_ unionByName _)
    scored.groupBy(idCol)
      .agg(round(sum(col("__rrfq")).cast(DoubleType) / 1e9, 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol)).limit(k)
  }

  /** Deterministic corpus shuffle: training-data ordering must be
    * reproducible across runs and engines, so the "random" order is a
    * TOTAL ORDER by seeded md5 of the id (md5 replays bit-exactly in
    * DuckDB — the same verification convention as the dedup md5 twins).
    *
    * 100 TB shape: the sort is [[graft.operators.GlobalRank.globalOrder]]
    * (sampled range exchange + in-partition sort, no single reducer, the
    * per-partition counts riding its checkpoint). Global positions are
    * computed WITHOUT a global window: partition-local indices come from
    * `monotonically_increasing_id` (= partitionId<<33 | localRow on the
    * materialized sorted frame) and each partition's base offset from the
    * prefix counts — metadata-scale, like the pack_windows rank offsets.
    * `shard = pos % nShards` round-robins the shuffled order into equal
    * output shards.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
      nShards: Int): DataFrame = {
    require(nShards > 0, "deterministicShuffle: nShards must be positive")
    import graft.operators.GlobalRank.{globalOrder, PidCol}
    val (sorted, offsets) = globalOrder(
      df.withColumn("skey", md5(concat(lit(seed + ":"), col(idCol).cast("string")))),
      Seq(col("skey").asc), Seq(lit(1L)))
    import df.sparkSession.implicits._
    // one row per partition: broadcast-joined, so the offset lookup is a
    // narrow stage (a when-chain would blow up codegen at 10k partitions)
    val offDf = offsets.indices.init.map(p => (p, offsets(p)(0)))
      .toDF(PidCol, "__off")
    sorted
      .withColumn("__local",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offDf), PidCol)
      .withColumn("pos", col("__off") + col("__local"))
      .withColumn("shard", col("pos") % nShards)
      .drop(PidCol, "__local", "__off")
  }

  /** Multinomial Naive-Bayes text classifier over hashed token buckets —
    * the "quality classifier" step of GPT-3/LLaMA-style pipelines
    * (fastText-shaped: hashed bag-of-words, linear decision), chosen over
    * gradient-trained models because the count-based fit is CLOSED-FORM:
    * training and inference both replay exactly in a SQL oracle.
    *
    * Train: per-class add-one-smoothed bucket likelihoods from the rows of
    * `labeled` (boolean `labelCol`), plus the class-prior log-odds.
    * Apply: for every row of `corpus`,
    * `logit = log P(+)/P(−) + Σ_tokens [log p₊(b) − log p₋(b)]`, predict
    * positive iff logit > 0.
    *
    * 100 TB shape: ONE aggregation pass over the labeled set producing
    * 2·`buckets` counts (collected — metadata, like [[dsirSelect]]'s
    * histograms), then scoring is a shuffle-free whole-stage-codegen scan
    * against an array literal of per-bucket log-likelihood ratios. No
    * join, no shuffle, no iteration. */
  def nbTrainScore(corpus: DataFrame, labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int = 64): DataFrame = {
    require(buckets > 0)
    // one training pass: per-partition (class, bucket) count arrays plus
    // per-class doc counts, merged driver-side — 2·buckets+2 longs per
    // partition, no shuffle
    val trainSchema = StructType(Seq(
      StructField("y", BooleanType, nullable = false),
      StructField("b", IntegerType, nullable = false), // -1 = doc counter
      StructField("c", LongType, nullable = false)))
    val partials = labeled.select(col(labelCol), col(textCol))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val pos = Array.fill(buckets)(0L); val neg = Array.fill(buckets)(0L)
        var nPos = 0L; var nNeg = 0L
        it.foreach { r =>
          val y = r.getBoolean(0)
          if (y) nPos += 1 else nNeg += 1
          val acc = if (y) pos else neg
          val toks = tokensJvm(r.getString(1))
          var i = 0
          while (i < toks.length) {
            acc((DedupOps.md5Lower63Jvm(md, toks(i)) % buckets).toInt) += 1
            i += 1
          }
        }
        (Iterator(Row(true, -1, nPos), Row(false, -1, nNeg)) ++
          pos.iterator.zipWithIndex.collect { case (c, b) if c > 0 => Row(true, b, c) } ++
          neg.iterator.zipWithIndex.collect { case (c, b) if c > 0 => Row(false, b, c) })
      }(Encoders.row(trainSchema)).collect()
    val pos = Array.fill(buckets)(0L); val neg = Array.fill(buckets)(0L)
    var nPos = 0L; var nNeg = 0L
    partials.foreach { r =>
      val b = r.getInt(1); val c = r.getLong(2)
      if (b < 0) { if (r.getBoolean(0)) nPos += c else nNeg += c }
      else (if (r.getBoolean(0)) pos else neg)(b) += c
    }
    require(nPos > 0 && nNeg > 0, "nbTrainScore needs both classes labeled")
    val (tPos, tNeg) = (pos.sum + buckets, neg.sum + buckets)
    // bucket LLRs and the prior quantized once to 1e9-scaled longs: each
    // doc's logit is an exact integer sum, independent of token order on
    // either engine (the DSIR discipline)
    val llr = Array.tabulate(buckets)(b =>
      UnigramOps.q9((math.log((pos(b) + 1.0) / tPos) -
        math.log((neg(b) + 1.0) / tNeg)) * 1e9))
    val priorLogOdds = UnigramOps.q9(
      math.log(nPos.toDouble / nNeg.toDouble) * 1e9)
    val llrBc = corpus.sparkSession.sparkContext.broadcast(llr)
    val idField = corpus.schema(idCol)
    val rawSchema = StructType(Seq(idField,
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("__logit", DoubleType, nullable = false)))
    corpus.select(col(idCol), col(textCol)).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val lr = llrBc.value
      it.map { r =>
        val toks = tokensJvm(r.getString(1))
        var logitQ = priorLogOdds
        var i = 0
        while (i < toks.length) {
          logitQ += lr((DedupOps.md5Lower63Jvm(md, toks(i)) % buckets).toInt)
          i += 1
        }
        Row(r.get(0), toks.length, logitQ.toDouble / 1e9)
      }
    }(Encoders.row(rawSchema))
      // round via Spark's own Round so the value is bit-identical to the
      // previous Column formulation (and the DuckDB oracle's round)
      .select(col(idCol), col("n_tokens"),
        round(col("__logit"), 4).as("logit"), (col("__logit") > 0d).as("predicted"))
  }

  /** DSIR features: hashed unigrams + bigrams of the lowercased whitespace
    * tokens (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — the paper's hashed n-gram feature space). */
  private[llm] def dsirNgrams(text: Column): Column = {
    val toks = transform(TextOps.tokens(text), lower _)
    val len = greatest(size(toks) - 1, lit(0))
    concat(toks, zip_with(slice(toks, lit(1), len), slice(toks, lit(2), len),
      (a, b) => concat(a, lit(" "), b)))
  }

  /** DSIR importance resampling: score every raw document by how much more
    * likely its hashed n-gram features are under the TARGET distribution
    * than under the RAW distribution, then Gumbel-top-k sample by the
    * importance weights — the published recipe, made deterministic:
    *
    *  1. bucket(ngram) = md5-low-63 % `buckets` (the hash the DuckDB
    *     oracle replays bit-for-bit);
    *  2. p̂/q̂ = add-one-smoothed bucket histograms of target/raw;
    *  3. log w(d) = Σ_features [log p̂(b) − log q̂(b)];
    *  4. key(d) = log w(d) + Gumbel(md5-derived uniform) — sampling
    *     ∝ w without replacement via Gumbel-max, reproducible because the
    *     "noise" is a hash of the id;
    *  5. keep the top ⌈keepFraction·n⌉ keys ([[graft.operators.GlobalRank]]
    *     — never an `Exchange SinglePartition`).
    *
    * 100 TB shape: two histogram passes (map-side combine onto `buckets`
    * cells; the collect is `buckets` longs — metadata, like [[VectorOps]]'
    * centroids), then scoring is a shuffle-free codegen scan against an
    * array LITERAL of per-bucket log-ratios (no join at all), and the only
    * shuffle is GlobalRank's range partition on the key. */
  /** Tokenize + hashed-ngram feature extraction in plain JVM code —
    * bit-identical to the Column form (`tokens` + [[dsirNgrams]] +
    * md5Lower63 % buckets; same Java regex engine, ROOT-locale lowercase
    * like Spark's UTF8String): the Column higher-order lambdas evaluate
    * INTERPRETED per element, which made scoring the bench pole. */
  private def ngramBuckets(md: java.security.MessageDigest, text: String,
      buckets: Int): Array[Int] = {
    val toks = tokensJvm(text)
    val out = new Array[Int](math.max(2 * toks.length - 1, 0))
    var i = 0
    while (i < toks.length) {
      out(i) = (DedupOps.md5Lower63Jvm(md, toks(i)) % buckets).toInt
      if (i + 1 < toks.length)
        out(toks.length + i) =
          (DedupOps.md5Lower63Jvm(md, toks(i) + " " + toks(i + 1)) % buckets).toInt
      i += 1
    }
    out
  }

  private[llm] def tokensJvm(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.split("\\s+").iterator.filter(_.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toArray
  }

  /** md5-derived uniform + Gumbel key, matching the Column replay:
    * u = (md5low63(id || suffix) % 2^48 + 0.5) / 2^48. */
  private def gumbelKey(md: java.security.MessageDigest, idStr: String,
      suffix: String, logw: Double): Double = {
    val u = ((DedupOps.md5Lower63Jvm(md, idStr + suffix) % (1L << 48)) + 0.5) /
      (1L << 48).toDouble
    logw - math.log(-math.log(u))
  }

  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 64,
      keepFraction: Double = 0.25): DataFrame = {
    require(buckets > 0 && keepFraction > 0 && keepFraction <= 1)
    val tCnt = bucketHistogram(target, textCol, buckets)
    val rCnt = bucketHistogram(raw, textCol, buckets)
    val tTot = (tCnt.sum + buckets).toDouble
    val rTot = (rCnt.sum + buckets).toDouble
    // bucket log-ratios quantized once to 1e9-scaled longs: each doc's
    // log-weight becomes an exact integer sum — independent of the
    // n-gram summation order on either engine
    val ratio = Array.tabulate(buckets)(b =>
      UnigramOps.q9((math.log((tCnt(b) + 1.0) / tTot) -
        math.log((rCnt(b) + 1.0) / rTot)) * 1e9))
    val spark = raw.sparkSession
    val ratioBc = spark.sparkContext.broadcast(ratio)
    val idField = raw.schema(idCol)
    val scoredSchema = StructType(Seq(idField,
      StructField("n_features", IntegerType, nullable = false),
      StructField("__logw", DoubleType, nullable = false),
      StructField("__key", DoubleType, nullable = false),
      StructField("__negk", DoubleType, nullable = false)))
    val scored = raw.select(col(idCol), col(idCol).cast(StringType),
        col(textCol))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val lr = ratioBc.value
        it.map { r =>
          val bs = ngramBuckets(md, r.getString(2), lr.length)
          var lwq = 0L
          var i = 0
          while (i < bs.length) { lwq += lr(bs(i)); i += 1 }
          val lw = lwq.toDouble / 1e9
          val key = gumbelKey(md, r.getString(1), ":dsir", lw)
          Row(r.get(0), bs.length, lw, key, -key)
        }
      }(Encoders.row(scoredSchema))
    val ranked = graft.operators.GlobalRank.withRank(
      scored, "__negk", "__rk", "__n")
    ranked.select(col(idCol), col("n_features"),
      round(col("__logw"), 4).as("log_weight"),
      round(col("__key"), 4).as("gumbel_key"),
      (col("__rk") <= greatest(ceil(col("__n") * keepFraction), lit(1L)))
        .as("selected"))
  }

  /** One histogram pass: per-partition local bucket counts (an
    * Array[Long](buckets) per partition), merged on the driver —
    * #partitions × buckets longs of traffic, no shuffle at all. */
  private def bucketHistogram(df: DataFrame, textCol: String,
      buckets: Int): Array[Long] = {
    val schema = StructType(Seq(
      StructField("b", IntegerType, nullable = false),
      StructField("c", LongType, nullable = false)))
    val partials = df.select(col(textCol)).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = Array.fill(buckets)(0L)
      it.foreach { r =>
        val bs = ngramBuckets(md, r.getString(0), buckets)
        var i = 0
        while (i < bs.length) { acc(bs(i)) += 1; i += 1 }
      }
      acc.iterator.zipWithIndex.collect { case (c, b) if c > 0 => Row(b, c) }
    }(Encoders.row(schema)).collect()
    val out = Array.fill(buckets)(0L)
    partials.foreach(r => out(r.getInt(0)) += r.getLong(1))
    out
  }

  /** Zipf-slope corpus diagnostic: least-squares slope of ln(freq) vs
    * ln(rank) over each group's `topK` most frequent terms. Natural text
    * sits near −1 (Zipf's law); template spam and OCR noise bend the
    * curve, so the slope is a cheap per-source health check.
    *
    * 100 TB shape: one term-count shuffle keyed by (group, term) with
    * map-side combine, then the per-group top-K via [[graft.functions
    * .BoundedTopK]] — the skew-safe aggregate ([[capPerKey]]'s shape: a
    * window would sort EVERY term of a hot source on one task; the
    * bounded aggregate ships ≤ topK·partitions rows per group). The fit
    * is a closed-form aggregate over ≤ topK points per group. */
  def zipfSlope(df: DataFrame, textCol: String, groupCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 2)
    val counts = df.select(col(groupCol),
        explode(transform(TextOps.tokens(col(textCol)), lower _)).as("__t"))
      .groupBy(col(groupCol), col("__t")).agg(count(lit(1)).as("__c"))
    val packed = struct(col("__c").as("__cnt"), col("__t").as("__term"))
    val pts = counts.groupBy(col(groupCol))
      .agg(graft.functions.BoundedTopK.sortedTopK(
        packed, Seq(false, true), topK).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__i", "__k")))
      .select(col(groupCol), log(col("__i") + lit(1.0)).as("__x"),
        log(col("__k.__cnt").cast(DoubleType)).as("__y"))
    pts.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"), sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col(groupCol), col("n_terms"),
        round((col("n_terms") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_terms") * col("__sxx") - col("__sx") * col("__sx")), 6)
          .as("zipf_slope"))
  }

  /** Corpus n-gram diversity per group: distinct n-grams / total n-grams
    * over the lowercased whitespace tokens — the MassiveText-style
    * repetitiveness/diversity stat (a template-spam source scores low).
    *
    * 100 TB shape: the distinct count shuffles `md5(gram)` digests
    * (16 bytes), never gram text, keyed by group — fully parallel. The
    * count is EXACT; swap `countDistinct` for `approx_count_distinct`
    * (HLL) when a ±2% answer is worth skipping the dedup shuffle. */
  def ngramDiversity(df: DataFrame, textCol: String, groupCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1)
    // per-partition JVM pass for tokenize→gram→md5 (the DSIR/NB 10×
    // lesson: 10M+ grams through interpreted HOF lambdas + the
    // expression-tree md5Lower63 cost ~15 s at sf0.1; this pass runs the
    // identical bytes through MessageDigest directly, parity-pinned by
    // the oracle). Then two-phase instead of count+countDistinct in one
    // agg: the mixed form plans an Expand and the distinct side gets no
    // map-side combine — phase 1 collapses to one row per (group,
    // digest) with partial counts, so the shuffle carries (group, long),
    // never gram text. 63-bit caveat: a collision flips n_distinct by 1
    // with p ~ n²/2⁶⁴ — negligible to ~1e8 grams per group and
    // deterministic (not a flake); at trillion-gram scale use full md5
    // or accept HLL.
    val gramSchema = StructType(Seq(
      StructField("__grp", StringType, nullable = true),
      StructField("__d", LongType, nullable = false)))
    val perGram = df.select(col(groupCol).cast(StringType), col(textCol))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val grp = r.getString(0)
          val toks = tokensJvm(r.getString(1))
          if (toks.length < n) Iterator.empty
          else (0 to toks.length - n).iterator.map { i =>
            val sb = new StringBuilder(toks(i))
            var d = 1
            while (d < n) { sb.append(' ').append(toks(i + d)); d += 1 }
            Row(grp, DedupOps.md5Lower63Jvm(md, sb.toString))
          }
        }
      }(Encoders.row(gramSchema))
      .groupBy(col("__grp").as(groupCol), col("__d"))
      .agg(count(lit(1)).as("__c"))
    perGram.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_ngrams"), count(lit(1)).as("n_distinct"))
      .select(col(groupCol), col("n_ngrams"), col("n_distinct"),
        round(col("n_distinct").cast(DoubleType) / col("n_ngrams"), 6)
          .as("diversity"))
  }

  /** KMV (k-minimum-values) distinct-count sketch per group, checked
    * against the exact count — the mergeable estimator for "how many
    * distinct tokens/URLs does each source contribute" when the key set
    * no longer fits a count-distinct shuffle (Bar-Yossef et al. 2002).
    * Keeps the k smallest 63-bit md5 hashes of the group's distinct
    * lowercased tokens; with the k-th smallest at `h_k` over the hash
    * space `[0, 2^63)`, the estimate is `(k-1) · 2^63 / h_k` (exact
    * count when fewer than k distinct values exist).
    *
    * Emits both the sketch estimate AND the exact distinct count plus an
    * `ok` relative-error verdict (the [[quantileSketchCheck]] pattern:
    * the oracle recomputes the exact side, so a sketch regression fails
    * the hash compare). The 100 TB path keeps ONLY the sketch columns:
    * the bottom-k survives partial aggregation ([[graft.functions
    * .BoundedTopK]]), so each partition ships ≤ k hashes per group and
    * sketches of shards union by re-taking the bottom-k — no full
    * distinct-key shuffle. Hash family is [[DedupOps.md5Lower63]], so
    * any md5-capable engine replays the estimate bit-for-bit. */
  def kmvDistinct(df: DataFrame, textCol: String, groupCol: String,
      k: Int = 128): DataFrame = {
    require(k >= 2, s"kmvDistinct needs k >= 2, got $k")
    val hashSchema = StructType(Seq(
      StructField("__grp", StringType, nullable = true),
      StructField("__h", LongType, nullable = false)))
    val perHash = df.select(col(groupCol).cast(StringType), col(textCol))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val grp = r.getString(0)
          tokensJvm(r.getString(1)).iterator
            .map(w => Row(grp, DedupOps.md5Lower63Jvm(md, w)))
        }
      }(Encoders.row(hashSchema))
      .groupBy(col("__grp").as(groupCol), col("__h"))
      .agg(count(lit(1)).as("__c"))
    val packed = struct(col("__h"))
    val twoPow63 = 9.223372036854776e18 // 2^63 as the nearest double
    perHash.groupBy(col(groupCol))
      .agg(count(lit(1)).as("distinct_exact"),
        graft.functions.BoundedTopK.sortedTopK(packed, Seq(true), k)
          .as("__bot"))
      .select(col(groupCol), col("distinct_exact"),
        element_at(col("__bot"), size(col("__bot"))).getField("__h")
          .as("kth_hash"))
      .select(col(groupCol), col("distinct_exact"), col("kth_hash"),
        round(when(col("distinct_exact") >= k,
            lit((k - 1).toDouble * twoPow63) / col("kth_hash").cast(DoubleType))
          .otherwise(col("distinct_exact").cast(DoubleType)), 4).as("kmv_est"))
      .withColumn("ok",
        abs(col("kmv_est") - col("distinct_exact").cast(DoubleType)) <=
          lit(0.25) * col("distinct_exact").cast(DoubleType))
  }

  /** Curriculum ordering for training: documents stream cleanest-first —
    * band = the [[perplexityBuckets]] quality band (0 = lowest unigram
    * perplexity), position = the global row number over `(band, md5("cur:"
    * || id), id)` — so each band is internally shuffled by the
    * [[deterministicShuffle]] recipe (md5 key, replayable anywhere) while
    * bands emit in quality order. This is the "quality annealing" data
    * order several pretraining recipes use between selection and packing.
    *
    * Scale: rides perplexityBuckets' scoring pass and one more
    * [[graft.operators.GlobalRank]] over the unique struct key — range
    * partition + broadcast offsets, never a single-partition window. */
  def curriculumOrder(corpus: DataFrame, textCol: String, idCol: String,
      nBands: Int = 3): DataFrame = {
    val banded = perplexityBuckets(corpus, textCol, idCol, nBands)
    val keyed = banded.withColumn("__ck",
      struct(col("bucket").as("k1"),
        DedupOps.md5Lower63(concat(lit("cur:"), col(idCol).cast(StringType)))
          .as("k2"),
        col(idCol).as("k3")))
    graft.operators.GlobalRank.withRank(keyed, "__ck", "position", "__n")
      .select(col(idCol), col("bucket").as("band"), col("ppl"),
        col("position"))
      .orderBy("position")
  }

  /** Moore-Lewis data selection (Moore & Lewis 2010): score every corpus
    * document by the cross-entropy DIFFERENCE between an in-domain unigram
    * LM and the general-corpus LM — `score = mean_t [ log P_in(t) −
    * log P_gen(t) ]` — and keep the top `keepFraction` by score (ties to
    * the lower id). Both LMs are add-one smoothed over the SHARED global
    * vocabulary (`P(t) = (c(t)+1)/(N+V)`), so in-domain-unseen tokens get
    * the floor probability and every scored token is general-seen by
    * construction. This is the real-vocabulary sibling of [[dsirSelect]]
    * (which hashes the vocab to fixed buckets); here token identity is
    * exact and the model tables are corpus-derived joins.
    *
    * Returns per-doc `(idCol, n_tokens, ml_score, rank, selected)`.
    *
    * Scale: one token shuffle builds both count tables (the in-domain side
    * is a filtered aggregate of the same pass); scoring joins the vocab
    * table unhinted (AQE broadcasts when small); the global rank uses the
    * [[graft.functions.GlobalRank]] recipe — range partition + broadcast
    * offsets, never an `Exchange SinglePartition`.
    *
    * Determinism: the per-term log-probability difference is quantized to
    * a scaled long (`round(term·10⁹)`) BEFORE the per-doc aggregation, so
    * `sum(tf·term)` is an exact integer sum — independent of Spark's
    * partial-aggregation merge order (the round-9 flake class). The final
    * `ml_score` is ONE double division over exact integers, identical in
    * both engines. */
  def mooreLewisSelect(corpus: DataFrame, idCol: String, textCol: String,
      inDomain: Column, keepFraction: Double = 0.25): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1)
    val toks = TextOps.tokens(lower(col(textCol)))
    val base = corpus.select(col(idCol), inDomain.as("__in"), toks.as("__toks"))
    val tok = base.select(col(idCol), col("__in"),
      explode(col("__toks")).as("w"))
    val counts = tok.groupBy("w").agg(
      count(lit(1)).as("cg"),
      coalesce(sum(when(col("__in"), 1L).otherwise(0L)), lit(0L)).as("ci"))
    val tot = counts.agg(
      sum("cg").as("ng"), sum("ci").as("ni"),
      count(lit(1)).as("v")).head()
    val (ng, ni, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val logDenomIn = math.log((ni + v).toDouble)
    val logDenomGen = math.log((ng + v).toDouble)
    val perDoc = tok.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
      .join(counts, Seq("w"))
      .select(col(idCol), col("tf"),
        round(((log(col("ci").cast(DoubleType) + 1.0) - lit(logDenomIn)) -
          (log(col("cg").cast(DoubleType) + 1.0) - lit(logDenomGen)))
          * 1e9, 0).cast(LongType).as("__termq"))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("__termq")).cast(DoubleType) /
            sum(col("tf")).cast(DoubleType) / 1e9, 4)
          .as("ml_score"),
        sum("tf").cast("long").as("n_tokens"))
    // unique struct key (score desc via negation, id tiebreak) makes the
    // distributed rank a row_number; the total rides GlobalRank's n column
    val keyed = perDoc.withColumn("__mlkey",
      struct((-col("ml_score")).as("k1"), col(idCol).as("k2")))
    val ranked = graft.operators.GlobalRank.withRank(
      keyed, "__mlkey", "rank", "__n")
    ranked.select(col(idCol), col("n_tokens"), col("ml_score"), col("rank"),
        (col("rank") <= greatest(lit(1L),
          floor(col("__n") * keepFraction).cast("long"))).as("selected"))
      .orderBy(col("rank"))
  }

  /** Dataset-release manifest: deterministic shard assignment (md5 of
    * `"shard:" || id` mod `nShards`) plus the per-shard stats a published
    * corpus ships — document/token/char counts and an ORDER-INDEPENDENT
    * content checksum (the exact sum of the shards' 63-bit text digests as
    * DECIMAL(38,0), so it merges across partials, never overflows, and any
    * md5-capable engine re-derives it). A consumer re-downloads a shard,
    * recomputes four aggregates, and knows bit-level integrity.
    *
    * 100 TB shape: one shuffle keyed by the (tiny-cardinality) shard id,
    * everything map-side combined; no digest list is ever collected — the
    * checksum is a plain sum, so shard-level state is O(1). */
  def exportManifest(df: DataFrame, textCol: String, idCol: String,
      nShards: Int = 8): DataFrame = {
    require(nShards >= 1)
    val shard = pmod(DedupOps.md5Lower63(concat(lit("shard:"),
      col(idCol).cast(StringType))), lit(nShards.toLong)).cast(IntegerType)
    df.select(shard.as("shard"),
        TextOps.tokenCount(col(textCol)).cast(LongType).as("__t"),
        length(col(textCol)).cast(LongType).as("__c"),
        DedupOps.md5Lower63(col(textCol))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("__d"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("__t")).as("tokens"),
        sum(col("__c")).as("chars"),
        // exact 128-bit-safe decimal sum, emitted as its decimal STRING so
        // the cross-engine compare never coerces it through a double
        sum(col("__d")).cast(StringType).as("digest_sum"))
      .orderBy("shard")
  }

  /** The composed C4-style pretraining ingest FUNNEL — the whole published
    * cleaning recipe as ONE report: raw → C4+Gopher rule filter →
    * language gate → exact dedup → near dedup (exact ∪ MinHash-LSH
    * connected components) → benchmark decontamination, with the surviving
    * document count after every stage. This is the integration proof that
    * the individually-oracled stages compose: each row's count is what a
    * user running the full recipe would keep.
    *
    * Stage semantics are EXACTLY the standalone ops'
    * ([[graft.llm.TextOps.gopherC4Rules]], [[graft.llm.TextOps.langId]],
    * min-id-per-digest, [[graft.llm.DedupOps.dedupNear]] md5Mode,
    * [[decontaminate]] n=8), so the oracle replays the funnel by chaining
    * their proven SQL fragments. The rule gate is the STRUCTURAL subset of
    * the verdict columns (word count, mean word length, symbol/bullet/
    * ellipsis, alpha ratio, lorem/brace) — the sentence-count and
    * English-stopword rules are left to the per-rule report
    * (`llm_gopher_c4`) because the English-stopword gate would subsume the
    * language stage and sentence punctuation is corpus-dependent. Monotone
    * by construction (each stage filters the previous); the near-dedup
    * stage subsumes exact (a non-rep exact dup shares its component with a
    * smaller id), so `near ≤ exact` always holds.
    *
    * Scale: the language/rules gates are shuffle-free scans; the funnel
    * pays dedupNear's digest/band shuffles once over the (already gated)
    * survivor set; the gated intermediate localCheckpoints because three
    * stages reuse it. Counts are driver-side scalars — |stages| jobs. */
  def pipelineFunnel(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val spark = corpus.sparkSession
    // the regex-heavy rule + language gates evaluate exactly ONCE: the
    // checkpoint holds the rules-survivors with their langid flag, so the
    // rules/lang counts are cheap scans of the checkpoint and the raw
    // count comes straight from the source's metadata (parquet row
    // groups) — nothing failing the rules gate is ever materialized
    // the rules/lang survivor counts RIDE the checkpoint job
    // ([[graft.operators.Obs.checkpoint]], r17): two whole scans of the
    // checkpoint become zero extra jobs
    val (s1cp, s1row) = graft.operators.Obs.checkpoint(
      TextOps.gopherC4Rules(corpus, textCol)
        .filter(Seq("g_wordcount_ok", "g_mwl_ok", "g_symbol_ok",
          "g_bullet_ok", "g_ellipsis_ok", "g_alpha_ok", "c4_no_lorem",
          "c4_no_brace").map(col).reduce(_ && _))
        .select(col(idCol), col(textCol),
          (TextOps.langId(col(textCol)) === "en").as("__l")),
      count(lit(1)).as("n1"),
      coalesce(sum(when(col("__l"), 1L).otherwise(0L)), lit(0L)).as("n2"))
    val n0 = corpus.count()
    val n1 = s1row.getLong(0)
    val s2 = s1cp.filter(col("__l")).select(col(idCol), col(textCol))
    val n2 = s1row.getLong(1)
    // exact-dedup SURVIVOR COUNT == number of distinct text digests: the
    // min-id-per-digest semi-join kept exactly one doc per digest, so the
    // count never needed the groupBy + join it used to pay (r16 — one
    // partial-aggregating scan replaces two Exchanges and a semi-join; the
    // per-doc keep/drop decision itself is still what llm_dedup_exact pins)
    val n3 = s2.agg(count_distinct(md5(col(textCol)))).head().getLong(0)
    // the near-dedup survivor count rides s4's checkpoint the same way
    val (s4, s4row) = graft.operators.Obs.checkpoint(
      DedupOps.dedupNear(s2, textCol, idCol, shingleK = 3,
        bands = 8, rowsPerBand = 4, threshold = 0.4, md5Mode = true),
      count(lit(1)).as("n4"))
    val n4 = s4row.getLong(0)
    val s5 = decontaminate(s4, bench, textCol, idCol, n = 8)
      .filter(col("contaminated") === 0)
    val rows = Seq(
      Row(0, "raw", n0),
      Row(1, "rules", n1),
      Row(2, "lang_en", n2),
      Row(3, "exact_dedup", n3),
      Row(4, "near_dedup", n4),
      Row(5, "decontaminated", s5.count()))
    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("stage", StringType, nullable = false),
      StructField("docs", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995, the
    * Chen-Goodman formulation) — the standard n-gram LM the data-selection
    * literature scores corpora with (e.g. Moore-Lewis filtering uses exactly
    * this model class). Per bigram:
    * `P(w|v) = max(c(v,w) − d, 0)/c(v) + d·N1+(v,·)/c(v) · N1+(·,w)/B`
    * where `N1+(v,·)` counts distinct continuations of `v`, `N1+(·,w)`
    * distinct contexts of `w`, and `B` the total bigram-type count — the
    * continuation distribution that makes KN beat raw interpolation on
    * "frequent only in one context" tokens. Self-scoring (train = score
    * corpus), so every scored bigram has `c(v,w) ≥ 1` and no OOV branch is
    * needed; returns per-doc mean KN log-prob (round 4) + bigram count.
    *
    * Scale: same shape as [[bigramLogProb]] — one bigram shuffle for the
    * count tables, then score joins keyed on the bigram/unigram; the model
    * tables are corpus-derived so no broadcast hints (AQE decides); the
    * three global scalars (`B`) travel as a single-row broadcast. */
  def kneserNeyLogProb(corpus: DataFrame, textCol: String, idCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0,1)")
    val toks = TextOps.tokens(lower(col(textCol)))
    val base = corpus.select(col(idCol), toks.as("__toks"))
    val len = greatest(size(col("__toks")) - 1, lit(0))
    val bg = base.select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), len), slice(col("__toks"), lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val docBg = bg.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val bgCnt = docBg.groupBy("w1", "w2").agg(sum("tf").as("cb"))
    val ctx = bgCnt.groupBy("w1")
      .agg(sum("cb").as("c1"), count(lit(1)).as("n1fwd"))
    val cont = bgCnt.groupBy(col("w2")).agg(count(lit(1)).as("n1back"))
    val types = bgCnt.agg(count(lit(1)).as("btypes"))
    val d = lit(discount)
    docBg
      .join(bgCnt, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      // quantized scaled-long terms → exact integer per-doc sums (see
      // unigramLogProb)
      .select(col(idCol), col("tf"),
        round(log(greatest(col("cb").cast(DoubleType) - d, lit(0.0)) / col("c1") +
          d * col("n1fwd") / col("c1") *
            (col("n1back") / col("btypes").cast(DoubleType))) * 1e9, 0)
          .cast(LongType).as("__termq"))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("__termq")).cast(DoubleType) /
            sum(col("tf")).cast(DoubleType) / 1e9, 4)
          .as("avg_logp_kn"),
        sum("tf").cast("long").as("n_bigrams"))
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) with the heavy-hitter
    * point-query check: the mergeable frequency estimator for "how often
    * does this token occur corpus-wide" when exact counts would shuffle the
    * whole vocabulary. Each partition fills a LOCAL `depth × width` counter
    * grid in one pass (no per-token rows leave the scan — ≤ depth·width
    * longs per partition cross the exchange) and grids merge by elementwise
    * sum, the sketch's defining property. Hash family is
    * [[DedupOps.md5Lower63]] of `"<seed>:<token>"`, so any md5-capable
    * engine rebuilds the identical grid.
    *
    * Output: the exact top-`k` tokens (count desc, token asc — skew-safe
    * [[graft.functions.BoundedTopK]] candidates) with the exact count, the
    * sketch's point estimate `min over seeds of grid[seed][bucket]`, and the
    * `ok` verdict pinning CMS's one-sided guarantee (never underestimates).
    * The exact side exists to VERIFY the sketch; the production path at
    * 100 TB keeps only the grid + a candidate stream. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 256, k: Int = 20): DataFrame = {
    require(depth >= 1 && width >= 2 && k >= 1)
    val gridSchema = StructType(Seq(
      StructField("__seed", IntegerType, nullable = false),
      StructField("__bucket", IntegerType, nullable = false),
      StructField("__counter", LongType, nullable = false)))
    val sketch = df.select(col(textCol)).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = Array.fill(depth * width)(0L)
      it.foreach { r =>
        val toks = tokensJvm(r.getString(0))
        var i = 0
        while (i < toks.length) {
          var s = 0
          while (s < depth) {
            acc(s * width +
              (DedupOps.md5Lower63Jvm(md, s + ":" + toks(i)) % width).toInt) += 1
            s += 1
          }
          i += 1
        }
      }
      acc.iterator.zipWithIndex
        .collect { case (c, i) if c > 0 => Row(i / width, i % width, c) }
    }(Encoders.row(gridSchema))
      .groupBy(col("__seed"), col("__bucket"))
      .agg(sum(col("__counter")).as("__counter"))
    val counts = df
      .select(explode(transform(TextOps.tokens(col(textCol)), lower _))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val top = counts
      .agg(graft.functions.BoundedTopK.sortedTopK(
        struct(col("cnt"), col("token")), Seq(false, true), k).as("__top"))
      .select(explode(col("__top")).as("__k"))
      .select(col("__k.token").as("token"), col("__k.cnt").as("cnt"))
    val seeds = df.sparkSession.range(depth)
      .select(col("id").cast(IntegerType).as("__seed"))
    top.crossJoin(broadcast(seeds))
      .withColumn("__bucket",
        pmod(DedupOps.md5Lower63(concat(col("__seed").cast(StringType),
          lit(":"), col("token"))), lit(width.toLong)).cast(IntegerType))
      .join(broadcast(sketch), Seq("__seed", "__bucket"))
      .groupBy(col("token"), col("cnt"))
      .agg(min(col("__counter")).as("cms_est"))
      .withColumn("ok", col("cms_est") >= col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    * the exponential-keys "A-ES" scheme): every row gets the key
    * `ln(u) / w` with `u ~ U(0,1)` and the `k` LARGEST keys form an exact
    * weighted sample — the distributed primitive for "sample documents
    * proportional to token count / quality weight" with no sequential
    * reservoir. `u` derives from `md5Lower63("ws:" || id)` exactly like
    * the DSIR Gumbel keys (`(h mod 2^48 + 0.5) / 2^48`), so the sample is
    * deterministic and any md5 engine replays it; keys are rounded at 9 so
    * 1-ulp `ln` differences between engines cannot reorder.
    *
    * 100 TB shape: one shuffle-free scoring scan, then the skew-safe
    * [[graft.functions.BoundedTopK]] partial aggregate — ≤ k rows per
    * partition cross, never a global sort. Rows with weight ≤ 0 are
    * excluded (they cannot be sampled). */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      k: Int): DataFrame = {
    require(k >= 1)
    val twoPow48 = (1L << 48).toDouble
    val u = (pmod(DedupOps.md5Lower63(
        concat(lit("ws:"), col(idCol).cast(StringType))), lit(1L << 48))
      .cast(DoubleType) + lit(0.5)) / lit(twoPow48)
    val scored = df
      .select(col(idCol), weight.cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("key",
        round(log(u) / col("n_tokens").cast(DoubleType), 9))
    scored
      .agg(graft.functions.BoundedTopK.sortedTopK(
        struct(col("key"), col(idCol), col("n_tokens")), Seq(false, true), k)
        .as("__top"))
      .select(explode(col("__top")).as("__k"))
      .select(col(s"__k.$idCol").as(idCol),
        col("__k.n_tokens").as("n_tokens"), col("__k.key").as("key"))
  }

  /** The quality feature VECTOR the logistic classifier consumes: bias,
    * capped length score, punctuation/uppercase/digit/stopword ratios —
    * [[TextOps.qualityFeatures]]'s raw signals, each rounded at 6 so both
    * engines run gradient descent on bit-identical inputs. Column order is
    * the weight order: (bias, len, punct, upper, digit, sw). */
  def logRegFeatures(df: DataFrame, textCol: String): DataFrame = {
    val f = TextOps.qualityFeatures(col(textCol))
    df.withColumn("x_bias", lit(1.0))
      .withColumn("x_len",
        round(least(f.nTokens.cast(DoubleType) / 100d, lit(1d)), 6))
      .withColumn("x_punct", round(f.punctRatio, 6))
      .withColumn("x_upper", round(f.upperRatio, 6))
      .withColumn("x_digit", round(f.digitRatio, 6))
      .withColumn("x_sw", round(f.stopwordRatio, 6))
  }

  /** Full-batch gradient-descent logistic regression — the trainable twin
    * of [[nbTrainScore]]'s closed-form classifier (the fastText-style
    * "quality classifier filtering" step, but with a real optimizer whose
    * whole trajectory the oracle replays). Per round: one aggregation pass
    * computes `Σ (σ(w·x) − y)·x_j` and the pre-update log-loss; the driver
    * applies `w ← w − η·grad/n` and re-broadcasts the weights as literals.
    *
    * Determinism contract (the EM-round pattern): features arrive rounded
    * at 6, weights are re-quantized at 9 after every update, loss reported
    * at 4 — so the ~1-ulp `exp` differences between engines never survive
    * a round. `w·x` is built left-associated in `xCols` order; the oracle
    * must sum in the same order. Each example's gradient and loss
    * contribution is quantized to a 10⁹-scaled DECIMAL before the
    * aggregate, so the per-round sums are exact integers — independent of
    * the partial-aggregation merge order at any corpus size (DECIMAL(38),
    * not long, so they cannot overflow).
    *
    * Returns (one row per round: weights after the update + pre-update
    * mean log-loss, final weight array). 100 TB shape: `rounds` passes
    * over the train slice, each a map-side-combined aggregate collecting
    * `|x|+2` doubles to the driver — no shuffle of rows, no feature
    * matrix materialization. */
  def logRegFit(train: DataFrame, xCols: Seq[String], yCol: String,
      rounds: Int = 3, lr: Double = 1.0): (DataFrame, Array[Double]) = {
    require(rounds >= 1 && xCols.nonEmpty)
    val spark = train.sparkSession
    val k = xCols.length
    def q(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = Array.fill(k)(0.0)
    val out = Array.newBuilder[org.apache.spark.sql.Row]
    val y = col(yCol).cast(DoubleType)
    for (r <- 1 to rounds) {
      val z = xCols.zipWithIndex
        .map { case (c, j) => lit(w(j)) * col(c) }.reduceLeft(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      def qsum(e: Column): Column =
        sum(round(e * 1e9, 0).cast(DecimalType(38, 0)))
      val aggs = xCols.map(c => qsum((p - y) * col(c))) ++ Seq(
        qsum(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p))),
        count(lit(1)).cast(DoubleType))
      val row = train.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getDouble(k + 1)
      require(n > 0, "logRegFit needs a non-empty train slice")
      def g(i: Int): Double = row.getDecimal(i).doubleValue / 1e9
      val loss = q(g(k) / n, 4)
      for (j <- 0 until k) w(j) = q(w(j) - lr * g(j) / n, 9)
      out += org.apache.spark.sql.Row.fromSeq(
        r +: w.map(q(_, 6)).toSeq :+ loss)
    }
    val schema = StructType(StructField("round", IntegerType, false) +:
      xCols.map(c => StructField("w_" + c.stripPrefix("x_"), DoubleType, false))
        :+ StructField("loss", DoubleType, false))
    (spark.createDataFrame(
      spark.sparkContext.parallelize(out.result().toIndexedSeq, 1), schema), w)
  }

  /** Score `df` with fitted logistic weights: `z = w·x` (left-assoc, same
    * order as the fit), rounded at 6 — the input to accuracy/AUC evals. */
  def logRegScore(xCols: Seq[String], w: Array[Double]): Column =
    round(xCols.zipWithIndex.map { case (c, j) => lit(w(j)) * col(c) }
      .reduceLeft(_ + _), 6)

  /** ROC-AUC by the Mann-Whitney rank-sum identity with MIDRANKS (the
    * tie-correct estimator):
    * `AUC = (Σ midrank(positives) − P(P+1)/2) / (P·N)` where
    * `midrank = rank() + (tieGroupSize − 1)/2`. One verdict row.
    *
    * 100 TB shape: ranks via [[graft.operators.GlobalRank]] (range
    * partition, min-rank ties — never a single-partition window); tie
    * group sizes via a groupBy on the score joined back (both sides
    * shuffle on the same key, co-partitioned); then one metadata-scale
    * final aggregate. */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // null scores are unrankable: they would take ranks in GlobalRank
    // (nulls-first) and then drop at the tie-size equi-join, inflating
    // every real rank — exclude them up front (AUC over scored docs)
    val base = scored.select(col(scoreCol).cast(DoubleType).as("__s"),
      col(labelCol).cast(BooleanType).as("__y"))
      .filter(col("__s").isNotNull)
    val ranked = graft.operators.GlobalRank.withRank(base, "__s", "__rk", "__n")
    val sizes = ranked.groupBy(col("__s")).agg(count(lit(1)).as("__g"))
    val row = ranked.join(sizes, "__s")
      .agg(
        sum(when(col("__y"),
          col("__rk") + (col("__g") - 1) / 2.0).otherwise(0d)).as("rsum"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("p"),
        count(lit(1)).as("n_docs"))
    // mirror prCurve's "needs at least one positive" guard for BOTH
    // classes: a single-class slice raises a diagnostic instead of
    // silently returning a null auc
    row.select(col("p"), (col("n_docs") - col("p")).as("n"),
      when(col("p") === 0 || col("n_docs") === col("p"),
        raise_error(concat(lit("rocAuc needs both classes: positives="),
          col("p").cast(StringType), lit("/"),
          col("n_docs").cast(StringType))))
        .otherwise(
          round((col("rsum") - col("p") * (col("p") + 1) / 2.0) /
            (col("p") * (col("n_docs") - col("p"))), 6)).as("auc"))
  }

  /** Reliability diagram (calibration table): sigmoid the logit into a
    * probability, bucket into `buckets` equal-width probability bins,
    * and compare mean predicted probability against the observed
    * positive rate per bin. Shuffle shape: ONE groupBy on a ≤`buckets`-
    * cardinality key with map-side partial aggregation. */
  def calibration(scored: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0)
    val prob = lit(1.0) / (lit(1.0) + exp(-col(scoreCol).cast(DoubleType)))
    // probabilities quantized to scaled longs before the per-bin mean →
    // exact integer sums, summation-order-free; the 0/1 observed sum is
    // already exact
    scored
      .select(least(floor(prob * buckets).cast(IntegerType),
        lit(buckets - 1)).as("bin"),
        round(prob * 1e9, 0).cast(LongType).as("__pq"),
        col(labelCol).cast(BooleanType).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("__pq")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType) / 1e9, 6).as("mean_predicted"),
        round(avg(when(col("__y"), 1.0).otherwise(0.0)), 6).as("observed_rate"))
  }

  /** Classifier-calibration precision/recall sweep: one row per rank in
    * the (score desc, id asc) order — `rank, threshold, tp, fp, prec,
    * rec` — i.e. the full PR curve of thresholding at every scored doc,
    * the step that picks the keep-cutoff for classifier-based filtering
    * (GPT-3 appendix A / LLaMA's quality-classifier stage).
    *
    * 100 TB shape: a quality-score threshold sweep over a full corpus is
    * a GLOBAL running sum, which the naive window
    * (`sum(y) over (order by score)`) plans as an
    * `Exchange SinglePartition`. Here: range-repartition on (score desc,
    * id asc) + in-partition sort ([[graft.operators.GlobalRank.globalOrder]],
    * per-partition (rows, positives) riding its checkpoint), broadcast
    * prefix offsets, then a single stamping pass — no single-partition
    * exchange at any corpus size. Ties on `score` are broken by `id`, so
    * ranks are unique and both engines agree row for row. */
  def prCurve(scored: DataFrame, idCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val (sorted, offsets) = graft.operators.GlobalRank.globalOrder(
      scored.select(col(idCol), col(scoreCol).cast(DoubleType).as("__s"),
        col(labelCol).cast(BooleanType).as("__y")),
      Seq(col("__s").desc, col(idCol).asc),
      Seq(lit(1L), when(col("__y"), 1L).otherwise(0L)))
    val totalP = offsets.last(1)
    require(totalP > 0, "prCurve needs at least one positive label")
    val bc = scored.sparkSession.sparkContext.broadcast(offsets)
    val pidIdx = sorted.schema.fieldIndex(graft.operators.GlobalRank.PidCol)
    val sIdx = sorted.schema.fieldIndex("__s")
    val yIdx = sorted.schema.fieldIndex("__y")
    val outSchema = StructType(Seq(
      StructField("rank", LongType, nullable = false),
      StructField("threshold", DoubleType, nullable = true),
      StructField("is_pos", BooleanType, nullable = false),
      StructField("tp", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    sorted.mapPartitions { it =>
      var first = true; var rk = 0L; var tp = 0L
      it.map { r =>
        if (first) {
          val o = bc.value(r.getInt(pidIdx)); rk = o(0); tp = o(1)
          first = false
        }
        rk += 1
        val y = r.getBoolean(yIdx)
        if (y) tp += 1
        Row(rk, if (r.isNullAt(sIdx)) null else r.getDouble(sIdx), y, tp,
          rk - tp)
      }
    }(Encoders.row(outSchema))
      .select(col("rank"), col("threshold"), col("is_pos"), col("tp"),
        col("fp"),
        round(col("tp").cast(DoubleType) / col("rank"), 6).as("prec"),
        round(col("tp").cast(DoubleType) / lit(totalP.toDouble), 6).as("rec"))
  }

  /** Average precision (area under the PR curve, the step-function
    * definition used by scikit-learn / TREC): the mean over POSITIVES of
    * the precision at each positive's rank — one verdict row derived
    * from [[prCurve]]'s sweep with a filter + tiny aggregate. Each
    * tp/rank ratio is quantized to a scaled long before the mean so the
    * sum is an exact integer — summation-order-free. */
  def averagePrecision(scored: DataFrame, idCol: String, scoreCol: String,
      labelCol: String): DataFrame =
    prCurve(scored, idCol, scoreCol, labelCol)
      .filter(col("is_pos"))
      .select(round(col("tp").cast(DoubleType) / col("rank") * 1e9, 0)
        .cast(LongType).as("__apq"))
      .agg(count(lit(1)).as("p"),
        round(sum(col("__apq")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType) / 1e9, 6).as("ap"))

  /** Sketch-quantile contract (dataset-card scale path): corpus
    * distribution stats at 100 TB cannot afford the exact percentile's
    * global sort, so the production path is the one-pass MERGEABLE
    * Greenwald-Khanna sketch (`percentile_approx`, map-side partial +
    * driver merge, rank error ≤ n/`accuracy`). This emits one row per
    * requested quantile: `(q, exact, within_bound)` — `exact` from the
    * interpolated percentile (affordable only at test scale, which is
    * exactly why it is the ORACLE side), `within_bound` = the sketch
    * value's true rank distance to q·n stays inside the GK guarantee.
    * The sketch value itself is engine-internal and deliberately NOT a
    * column: the oracle recomputes `exact` and expects every bound flag
    * true, so a sketch regression flips a bit and fails the hash compare
    * (the [[bloomSupersetCheck]] pattern). Two passes over the column:
    * the sketch+exact aggregate, then one rank-count pass for the
    * flags — both shuffle a single aggregation row. */
  def quantileSketchCheck(df: DataFrame, valueCol: String,
      qs: Seq[Double], accuracy: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    val v = col(valueCol).cast(DoubleType)
    val row = df.agg(
      percentile_approx(v, array(qs.map(lit): _*), lit(accuracy))
        .as("approx"),
      expr(s"percentile($valueCol, array(${qs.mkString(",")}))")
        .as("exact"),
      count(v).as("n")).head()
    val approx = row.getSeq[Double](0)
    val exact = row.getSeq[Double](1)
    val n = row.getLong(2)
    // one pass: each sketch value's rank interval [count(<v)+1, count(<=v)]
    val rankCols = approx.indices.flatMap { i =>
      Seq(sum(when(v <= approx(i), 1L).otherwise(0L)).as(s"le$i"),
        sum(when(v < approx(i), 1L).otherwise(0L)).as(s"lt$i"))
    }
    val ranks = df.agg(rankCols.head, rankCols.tail: _*).head()
    val eps = n.toDouble / accuracy
    import spark.implicits._
    qs.indices.map { i =>
      // GK guarantee: the returned element occupies SOME rank within
      // eps·n of q·n — i.e. its rank interval intersects
      // [q·n − eps, q·n + eps]
      val le = ranks.getLong(2 * i)
      val lt = ranks.getLong(2 * i + 1)
      val target = qs(i) * n
      (qs(i), math.round(exact(i) * 1e6) / 1e6,
        lt + 1 <= target + eps + 1e-9 && le >= target - eps - 1e-9)
    }.toDF("q", "exact", "within_bound")
  }

  /** Cross-source contamination matrix (a dataset-card diagnostic): for
    * every unordered source pair, the number of distinct word `n`-grams
    * the two sources share and the resulting gram-set Jaccard — the
    * "which crawls/dumps duplicate each other" table computed before
    * deciding mixture weights. Emits every pair (zero-overlap pairs
    * included) as `(src_a, src_b, grams_a, grams_b, shared_grams,
    * jaccard)` with `src_a < src_b`.
    *
    * 100 TB shape: grams are reduced to 8-byte [[DedupOps.md5Lower63]]
    * digests BEFORE the distinct, so the only corpus-sized shuffle
    * carries longs, never gram text (the [[DedupOps]] discipline — and
    * 4× lighter than shipping md5 hex strings). Shared counts come from
    * `groupBy(digest).collect_set(source)` — per-key state is bounded by
    * the SOURCE COUNT (dozens), not the corpus, and the pair fan-out per
    * digest is at most |sources|²; never an all-pairs join on grams. The
    * final matrix is |sources|² rows — driver-scale by construction. */
  def sourceOverlap(df: DataFrame, textCol: String, srcCol: String,
      n: Int = 5): DataFrame = {
    val grams = df
      .select(col(srcCol).as("__src"),
        explode(wordNgrams(col(textCol), n)).as("__g"))
      .select(col("__src"), DedupOps.md5Lower63(col("__g")).as("__d"))
      .distinct()
    val sizes = grams.groupBy("__src")
      .agg(count(lit(1)).as("__n"))
    // all unordered pairs of the per-digest source set, a < b
    val shared = grams.groupBy("__d")
      .agg(sort_array(collect_set(col("__src"))).as("__ss"))
      .select(explode(flatten(transform(col("__ss"), (a, i) =>
        transform(slice(col("__ss"), i + 2, size(col("__ss"))), b =>
          struct(a.as("a"), b.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("src_a"), col("__p.b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    val allPairs = sizes.select(col("__src").as("src_a"), col("__n").as("grams_a"))
      .crossJoin(sizes.select(col("__src").as("src_b"), col("__n").as("grams_b")))
      .filter(col("src_a") < col("src_b"))
    allPairs.join(shared, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("grams_a"), col("grams_b"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"),
        round(coalesce(col("shared_grams"), lit(0L)).cast(DoubleType) /
          (col("grams_a") + col("grams_b") -
            coalesce(col("shared_grams"), lit(0L))), 6).as("jaccard"))
  }
}
