package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines. Scale notes:
  *  - exact dedup = one hash-shuffle on a 16-byte digest (not the full text);
  *  - MinHash-LSH = per-doc signature computation (map-side, codegen'd) + one
  *    shuffle per band on (band, bucket) — candidate pairs only ever meet
  *    inside a bucket, never via a cross join;
  *  - SimHash = 64-bit signature, bucketed by 16-bit chunks (Hamming ≤ k via
  *    the pigeonhole principle).
  * All hash functions are Spark-native (`xxhash64`, `md5`) — deterministic
  * across runs and cluster sizes.
  */
object DedupOps {

  /** Exact dedup: keep the lowest-id doc per md5(text); adds `dup_count`. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_md5"), col(idCol))
      .groupBy("text_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** C4-style repeated-line (boilerplate) removal: explode the docs into
    * `sep`-separated lines, count each distinct line's occurrences across
    * the WHOLE corpus, and drop lines seen >= `minCount` times (nav bars,
    * cookie banners, license headers). Output: (idCol, pos, line) for the
    * KEPT lines, in original order via `pos`.
    *
    * Distributed shape: the bad-line list aggregates on md5(line) — the
    * 16-byte digest crosses the shuffle, never the line text — and the
    * removal is a LEFT ANTI join against that (small) list, which AQE
    * broadcasts. Reassembly (`concat_ws` after a groupBy) is one more
    * shuffle on the doc id when the caller wants whole docs back. */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val bad = lines.groupBy(md5(col("line")).as("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount).select("__h")
    lines.join(bad, md5(col("line")) === bad("__h"), "left_anti")
  }

  /** Word k-shingles of the lowercased text.
    *
    * The token array is let-bound through a single-element `transform` lambda:
    * higher-order functions evaluate their lambda BODY per element, so writing
    * `slice(tokens(text), …)` inside the per-shingle lambda re-tokenizes the
    * document once per shingle — O(len²) per doc, measured 5 s for 5k short
    * docs. A lambda variable is evaluated once per row. */
  def shingles(text: Column, k: Int): Column =
    element_at(transform(array(TextOps.tokens(lower(text))), { toks =>
      val n = size(toks)
      when(n >= k,
        // k is known at plan time: k element_at reads per shingle instead
        // of slice(), which allocates a fresh k-array per shingle — 2×
        // faster over 21M shingles (round 12), byte-identical output
        array_distinct(transform(sequence(lit(0), n - k),
          i => concat_ws(" ",
            (0 until k).map(j => element_at(toks, i + j + 1)): _*))))
        .otherwise(when(n > 0, array(concat_ws(" ", toks)))
          .otherwise(array().cast(ArrayType(StringType))))
    }), 1)

  /** LSH banding: docs sharing any (band, bucket) are candidate pairs.
    * numHashes = bands * rowsPerBand.
    *
    * Returns candidate pairs `(id_a, id_b, jaccard)` with exact shingle-set
    * Jaccard computed only for candidates, filtered at `threshold`.
    *
    * `guardPairs` (default ON for every caller — r16: the round-15 guard
    * covered only dedupNear, leaving the identical quadratic join
    * reachable through minhashLsh/minhashLshMd5/leakageSplit) prices the
    * verification join via [[guardedBanding]] and refuses over-budget
    * viral corpora; pass false only when the corpus is known-bounded.
    */
  /** Collapse exact-duplicate texts to their min-id representative before
    * near-dup detection: exact dups are [[exact]]'s job, and identical texts
    * collide in EVERY band, turning LSH buckets quadratic for no signal. */
  private def distinctTexts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(col(textCol).as("__text")).agg(min(col(idCol)).as("doc"))

  /** Refuse-the-scale-killer guard (r15 verdict #3, the q_lookup_theta
    * precedent): the per-pair verification join plans Σ_buckets m(m-1)/2
    * candidate pairs, and a VIRAL near-dup cluster (m mutated copies of one
    * doc, colliding in every band) makes that quadratic in m — 19 s uniform
    * vs 196 s zipf at the SAME 50k-doc volume in the round-15 probe, i.e.
    * days at 100 TB, silently. One partial aggregate over the banded
    * relation (skew-safe by construction: groupBy(band, bucket) is a
    * map-side combine) prices the join BEFORE planning it; over budget →
    * an actionable error instead of a runaway job. Budget knob:
    * `graft.dedup.maxPairBudget` (candidate pairs, default 100M — uniform
    * corpora at sf10 stay well under it, the r15 viral cluster's 8 × 31M
    * blows it). */
  /** The guard now RIDES the banding materialization (r17, r16 verdict #7):
    * the r16 shape ran a separate eager aggregate job over the banding to
    * price the join, then the pair self-join recomputed the banding (from
    * the persisted signatures) twice more — three passes plus one extra
    * construction-time job per LSH query. Here the per-bucket size `m`
    * comes from a window over the SAME (band, bucket) key, and
    * Σ m(m−1)/2 = Σ_rows (m−1) / 2 plus max(m) ride the banding's
    * localCheckpoint ([[graft.operators.Obs.checkpoint]]) — ONE linear job
    * that both prices the join and materializes the banding the self-join
    * then reads (the signature aggregate now runs exactly once). The budget
    * still trips BEFORE the quadratic join is planned. */
  private def guardedBanding(banded: DataFrame): DataFrame = {
    val budget = banded.sparkSession.conf
      .get("graft.dedup.maxPairBudget", "100000000").toLong
    val wB = Window.partitionBy(col("band"), col("bucket"))
    val (ck, row) = graft.operators.Obs.checkpoint(
      banded.withColumn("__m", count(lit(1)).over(wB)),
      coalesce(sum(col("__m") - 1), lit(0L)).as("twicePairs"),
      max(col("__m")).as("maxM"))
    val pairs = row.getLong(0) / 2
    if (pairs > budget) throw new IllegalStateException(
      s"near-dup pair budget exceeded: the LSH buckets contain $pairs " +
        s"candidate pairs (largest bucket m=${row.get(1)}) > " +
        s"graft.dedup.maxPairBudget=$budget — a viral near-dup cluster " +
        "makes per-pair Jaccard verification quadratic in the cluster " +
        "size; use dedupNearLsh (Θ(Σ m) star edges, no per-pair verify) " +
        "or raise graft.dedup.maxPairBudget")
    ck.drop("__m")
  }

  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, guardPairs: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    // persisted: this per-doc relation feeds the banding AND both payload
    // re-joins — without persist the shingle subtree runs 3x
    val withSh = distinctTexts(df, textCol, idCol)
      .select(col("doc"), shingles(col("__text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Signature = ONE custom TypedImperativeAggregate over exploded shingles
    // (graft.functions.MinHashAgg): numHashes seeded XXH64s folded into an
    // elementwise-min buffer in a tight JVM loop. Map-side combine means only
    // numHashes longs per doc cross the shuffle; the expression-tree
    // alternative (numHashes separate min(xxhash64) aggs) spends more time in
    // Janino than in data.
    val exploded = withSh.select(col("doc"), explode(col("sh")).as("shingle"))
    // guarded path: [[guardedBanding]] localCheckpoints the banding, so the
    // signature aggregate runs exactly once and needs no persist; unguarded
    // path keeps the r16 persist (both sides of the bucket self-join scan
    // the banding, which would otherwise recompute the aggregate twice)
    val sigs0 = exploded.groupBy("doc")
      .agg(graft.functions.HashAggs.minhash(col("shingle"), numHashes).as("sig"))
    val sigs =
      if (guardPairs) sigs0 else sigs0.persist(StorageLevel.MEMORY_AND_DISK)
    // (doc, band, bucket) only — shingle sets are NOT carried through the
    // bucket join; payloads re-attach after pair-dedup
    val banded0 = sigs.select(col("doc"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand))
          .cast(StringType))): _*))
        .as(Seq("band", "bucket")))
    val banded = if (guardPairs) guardedBanding(banded0) else banded0
    val a = banded.select(col("band"), col("bucket"), col("doc").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(withSh.select(col("doc").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("doc").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Near-dup candidates by SimHash: bucket on each of the four 16-bit chunks
    * (any doc pair within Hamming distance 3 shares at least one chunk), then
    * verify exact Hamming distance ≤ maxHamming. */
  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSigs(df, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds both sides of the self-join
    val banded = sigs.select(col("doc"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("chunk", "bucket")))
    val a = banded.select(col("chunk"), col("bucket"), col("doc").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk"), col("bucket"), col("doc").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash signatures over the distinct-text universe: ONE custom vote
    * aggregate over exploded distinct tokens (graft.functions.SimHashAgg) —
    * same motivation as in [[minhashLsh]]. */
  private def simhashSigs(df: DataFrame, textCol: String, idCol: String): DataFrame =
    distinctTexts(df, textCol, idCol)
      .select(col("doc"),
        explode(array_distinct(TextOps.tokens(lower(col("__text"))))).as("tok"))
      .groupBy("doc")
      .agg(graft.functions.HashAggs.simhash(col("tok")).as("sig"))

  /** EXACT SimHash near-dup pairs: all-pairs Hamming over the signatures —
    * verification-mode (O(n²) broadcast self-join), the ground truth the
    * chunk-bucketed [[simhashNearDup]] is measured against. The 16-bit
    * pigeonhole makes the bucketed variant COMPLETE for maxHamming ≤ 3, so
    * their pair sets must be identical. */
  def simhashNearDupExact(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSigs(df, textCol, idCol)
    val a = sigs.select(col("doc").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc").as("id_b"), col("sig").as("sig_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** EXACT shingle-Jaccard pairs via an INVERTED INDEX — the scalable
    * ground truth for [[minhashLsh]] recall. Pairs form only where a
    * shingle is SHARED (join on the shingle, count commons per pair), and
    * the union size falls out of inclusion-exclusion: |A∪B| = |A|+|B|−|A∩B|.
    * Cost is Σ_g df(g)² over shingle document-frequencies instead of the
    * all-pairs O(n²·|set|) nested loop — at 100 TB, cap pathological
    * frequencies by dropping stop-shingles first if needed. Operates on the
    * same distinct-text (min-id representative) universe as [[minhashLsh]]. */
  def jaccardPairsExact(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = distinctTexts(df, textCol, idCol)
      .select(col("doc"), shingles(col("__text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    val ex = sh.select(col("doc"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    val a = ex.select(col("g"), col("doc").as("id_a"), col("n").as("na"))
    val b = ex.select(col("g"), col("doc").as("id_b"), col("n").as("nb"))
    a.join(b, Seq("g")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("c"))
      .withColumn("jaccard", round(col("c").cast(DoubleType) /
        (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Recall of an approximate near-dup pair list against the exact pair
    * set: ONE row `(n_true, n_found, recall)`. Both inputs carry
    * `(id_a, id_b)` with `id_a < id_b`. The measurable harness behind the
    * rows-only LSH entries — pin a recall floor and regressions fail the
    * oracle compare loudly. */
  def pairRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = exact.select(col("id_a"), col("id_b"))
      .join(approx.select(col("id_a"), col("id_b"), lit(1).as("__hit")),
        Seq("id_a", "id_b"), "left")
    hit.agg(count(lit(1)).as("n_true"),
      sum(coalesce(col("__hit"), lit(0))).as("n_found"),
      (sum(coalesce(col("__hit"), lit(0))).cast(DoubleType) /
        count(lit(1))).as("recall"))
  }

  /** Jaccard similarity of two precomputed shingle-set columns. For pairwise
    * use (cross/bucket joins) ALWAYS shingle each side once before the join
    * and pass the sets here — inlining [[shingles]] into the pair expression
    * re-tokenizes both texts for every PAIR, an O(pairs × doc_len) blowup
    * measured at 30+ s on a 51-doc cross join. */
  def jaccardOfSets(sa: Column, sb: Column): Column =
    when(size(array_union(sa, sb)) > 0,
      round(size(array_intersect(sa, sb)).cast(DoubleType) / size(array_union(sa, sb)), 6))
      .otherwise(lit(null))

  /** Exact n-gram Jaccard similarity between two text columns. */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column =
    jaccardOfSets(shingles(a, k), shingles(b, k))

  // ---- cross-engine reproducible MinHash ----------------------------------

  /** The low 63 bits of DuckDB's `md5_number_lower`: little-endian uint64 of
    * md5-digest bytes 8..15, masked to 63 bits so signed/unsigned engines
    * agree. Lets an external engine (DuckDB, a Python auditor, …) replay
    * dedup decisions bit-for-bit — same spirit as
    * [[TextOps.fingerprintMd5]]. */
  def md5Lower63(c: Column): Column = {
    val hex = md5(c)
    // bytes 8..15 are hex chars 17..32 (2 per byte); little-endian = most
    // significant byte LAST in the string, so reverse the byte pairs
    val rev = concat((0 until 8).map(k => substring(hex, 31 - 2 * k, 2)): _*)
    val hi = conv(substring(rev, 1, 8), 16, 10).cast(LongType)
    val lo = conv(substring(rev, 9, 8), 16, 10).cast(LongType)
    shiftleft(hi, 32).bitwiseOR(lo).bitwiseAND(lit(0x7fffffffffffffffL))
  }

  /** JVM twin of [[md5Lower63]] for tight per-partition loops (the Column
    * form costs hex-string reverses per value; interpreted higher-order
    * lambdas made it a bench pole). Md5HashParitySpec pins equality. */
  def md5Lower63Jvm(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h & Long.MaxValue
  }

  /** MinHash-LSH in cross-engine-reproducible mode: hash family
    * `md5Lower63(seed || ':' || shingle)`, band bucket = the ordered minhash
    * values joined as a string — every intermediate is replayable in any
    * engine with md5 (the DuckDB oracle replays the WHOLE pipeline,
    * candidates included). Costs one md5 per (shingle, seed) instead of
    * [[graft.functions.MinHashAgg]]'s fused xxhash64 loop — use THAT for
    * production scale, this when dedup decisions must be audited outside
    * Spark. Same banding math, same exact-Jaccard verify. */
  def minhashLshMd5(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, guardPairs: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSh = distinctTexts(df, textCol, idCol)
      .select(col("doc"), shingles(col("__text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE aggregate (graft.functions.Md5MinHashAgg) computes the whole
    // signature in a JVM loop — the explode-by-seed formulation shuffled
    // numHashes rows per SHINGLE; this shuffles numHashes longs per DOC.
    // Guarded path rides [[guardedBanding]]'s checkpoint (single aggregate
    // run, no persist); unguarded keeps the xxhash sibling's persist.
    val sigs0 = withSh.select(col("doc"), explode(col("sh")).as("shingle"))
      .groupBy("doc")
      .agg(graft.functions.Md5HashAggs.minhash(col("shingle"), numHashes).as("sig"))
    val sigs =
      if (guardPairs) sigs0 else sigs0.persist(StorageLevel.MEMORY_AND_DISK)
    // band bucket = the band's minhash values joined as a string — the same
    // string DuckDB's string_agg(minh, ',' ORDER BY seed) produces
    val banded0 = sigs.select(col("doc"),
      posexplode(array((0 until bands).map(b =>
        concat_ws(",", transform(
          slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)),
          x => x.cast(StringType)))): _*))
        .as(Seq("band", "bucket")))
    val banded = if (guardPairs) guardedBanding(banded0) else banded0
    val a = banded.select(col("band"), col("bucket"), col("doc").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(withSh.select(col("doc").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("doc").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup in cross-engine-reproducible mode: 63-bit signature
    * from per-token [[md5Lower63]] bit votes (bit j set when strictly more
    * tokens have bit j set than clear), chunk-bucketed like
    * [[simhashNearDup]]. One row per (token, bit) — verification-mode cost;
    * [[graft.functions.SimHashAgg]]'s fused xxhash64 vote loop is the
    * production path. */
  def simhashNearDupMd5(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    // ONE aggregate (graft.functions.Md5SimHashAgg): per-token md5 + 63 bit
    // votes in a JVM loop — the explode-by-bit formulation shuffled 63 rows
    // per token; this shuffles one 63-int vote buffer per doc partial
    val sigs = distinctTexts(df, textCol, idCol)
      .select(col("doc"),
        explode(array_distinct(TextOps.tokens(lower(col("__text"))))).as("tok"))
      .groupBy("doc")
      .agg(graft.functions.Md5HashAggs.simhash(col("tok")).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col("doc"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("chunk", "bucket")))
    val a = banded.select(col("chunk"), col("bucket"),
      col("doc").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("chunk"), col("bucket"),
      col("doc").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair list: every document in a
    * duplicate cluster gets the cluster's MINIMUM id as its `cluster` label
    * — the step after MinHash/SimHash/embedding pair generation that turns
    * pairwise matches into keep-one-per-cluster decisions.
    *
    * Hash-min label propagation: labels start as own ids; each round every
    * node takes the min of its neighbors' labels (one equi-join + one
    * min-aggregate, both hash-shuffled on the node id — no driver-side
    * graph). Rounds needed = max cluster DIAMETER, which for near-dup
    * clusters is small (dup clusters are dense); `maxIter` bounds
    * pathological chains. Convergence detection rides the SAME job that
    * materializes the round's labels: the node's previous label travels
    * through the aggregate (min over the `own` row) and an accumulator
    * counts label changes while the eager localCheckpoint writes — ONE
    * Spark job per round, no extra join+count action. (Task retries can
    * only over-count, never under-count, so a converged round still reads
    * exactly 0.) At much larger diameters switch to large-star/small-star
    * (same join-agg primitives, O(log d) rounds).
    */
  def clusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // localCheckpoint, not persist: persist caches DATA but the logical
    // plan still nests one level per round — analysis cost grows
    // exponentially across iterations. Checkpointing truncates the lineage
    // so every round plans against a flat scan. (On a cluster with
    // unreliable executors, use reliable checkpoint() instead.)
    val edges = pairs.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("t"))
      .union(pairs.select(col(bCol).cast("long").as("s"), col(aCol).cast("long").as("t")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    val changed = spark.sparkContext.longAccumulator("cc_label_changes")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      changed.reset()
      // rename-based equi-joins: labels derives from edges, so df("col")
      // references would be ambiguous self-join attributes
      val viaNeighbors = edges.select(col("s"), col("t").as("id"))
        .join(labels, Seq("id"))
        .select(col("s").as("id"), col("cluster"), lit(false).as("own"))
      val next = labels.select(col("id"), col("cluster"), lit(true).as("own"))
        .union(viaNeighbors)
        .groupBy("id").agg(
          min("cluster").as("cluster"),
          // exactly one `own` row per id — its label is the previous round's
          min(when(col("own"), col("cluster"))).as("__prev"))
        .select(col("id").cast("long"), col("cluster").cast("long"),
          col("__prev").cast("long"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, c, prev) =>
            if (c != prev) changed.add(1L)
            (id, c)
          }
        }
        .toDF("id", "cluster")
        .localCheckpoint(true) // eager: this action also fills `changed`
      labels = next
      converged = changed.value == 0L
      i += 1
    }
    // silent wrong labels are worse than an error: a component whose
    // DIAMETER exceeds maxIter has not finished propagating its min
    if (!converged) throw new IllegalStateException(
      s"hash-min label propagation did not converge in $maxIter rounds — " +
        "a duplicate cluster's diameter exceeds maxIter; raise it, or use " +
        "clustersLogD (large-star/small-star, O(log diameter) rounds)")
    labels
  }

  /** End-to-end near-duplicate REMOVAL — the composed pipeline a training
    * corpus actually runs: exact-duplicate pairs (same text → min-id
    * representative, grouped on the md5 digest so full text never keys a
    * shuffle) UNION MinHash-LSH near-dup pairs feed connected components
    * ([[clustersLogD]], chain-proof), and every non-minimum member of a
    * component drops. `md5Mode = true` swaps in the cross-engine md5 hash
    * family so an external engine can replay the WHOLE keep/drop decision
    * (the DuckDB oracle does); default xxhash64 for production speed.
    *
    * SKEW: the per-pair Jaccard verification makes this Σ_buckets m² — a
    * VIRAL cluster (one doc mutated m times) is quadratic in m (19 s → 196 s
    * at equal volume in the r15 zipf probe). The banding is therefore
    * PRICED before the verification join plans ([[guardedBanding]]): when
    * the candidate-pair count exceeds `graft.dedup.maxPairBudget`
    * (default 100M) the call FAILS with an actionable error instead of
    * silently running for days at corpus scale. When collisions alone are
    * an acceptable near-dup decision, use [[dedupNearLsh]] — Θ(Σ m) star
    * edges, flat under any skew. */
  def dedupNear(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5, md5Mode: Boolean = false): DataFrame = {
    val g = df.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("h"))
    val reps = g.groupBy("h").agg(min("id").as("id_a"))
    val exactPairs = g.join(reps, "h")
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
    val nearPairs =
      (if (md5Mode) minhashLshMd5(df, textCol, idCol, shingleK, bands,
        rowsPerBand, threshold, guardPairs = true)
       else minhashLsh(df, textCol, idCol, shingleK, bands, rowsPerBand,
         threshold, guardPairs = true))
        .select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
    val labels = clustersLogD(exactPairs.union(nearPairs), "id_a", "id_b")
    val drop = labels.filter(col("id") =!= col("cluster")).select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Pure-LSH near-duplicate REMOVAL — the SKEW-PROOF scale path beside
    * [[dedupNear]] (the [[graft.llm.MultimodalOps.imageDupClusters]]
    * precedent: pairs are the demo, clusters are what a corpus runs).
    *
    * [[dedupNear]] verifies every bucket-colliding pair at exact shingle
    * Jaccard, which is Σ_buckets m² work — correct, but a VIRAL near-dup
    * cluster (one doc mutated m times, all m landing in the same bucket of
    * every band) makes that quadratic in m: the round-15 zipf probe
    * measured 19.4 s uniform vs 196 s skewed at the SAME 50k-doc volume
    * (top cluster m=7,888). This variant skips per-pair verification and
    * clusters on bucket CO-MEMBERSHIP alone, the standard large-corpus
    * recipe (RedPajama/SlimPajama-style MinHashLSH dedup): per
    * (band, bucket), emit STAR edges (bucket-min doc ← every other
    * member) — Θ(m) edges whose connected components are EXACTLY the
    * components of the full m²/2 bucket-clique graph, because bucket
    * co-membership is transitive through the center. Work is Θ(Σ m),
    * linear at any skew.
    *
    * Semantics trade: a band collision IS the near-dup decision (false-
    * positive collisions merge clusters that exact Jaccard would have
    * rejected — tune bands/rowsPerBand for the precision/recall point).
    * Exact duplicates fold through the md5 digest first, as in
    * [[dedupNear]]. `md5Mode = true` = cross-engine-replayable hash family
    * (the DuckDB oracle replays every keep/drop). Returns the kept rows. */
  def dedupNearLsh(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      md5Mode: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSh = distinctTexts(df, textCol, idCol)
      .select(col("doc"), shingles(col("__text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    val exploded = withSh.select(col("doc"), explode(col("sh")).as("shingle"))
    val sigs = exploded.groupBy("doc")
      .agg((if (md5Mode)
        graft.functions.Md5HashAggs.minhash(col("shingle"), numHashes)
      else graft.functions.HashAggs.minhash(col("shingle"), numHashes))
        .as("sig"))
    val bandCols =
      if (md5Mode) (0 until bands).map(b =>
        concat_ws(",", transform(
          slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)),
          x => x.cast(StringType))).as(s"b$b"))
      else (0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), lit(b * rowsPerBand + 1),
          lit(rowsPerBand)).cast(StringType)).cast(StringType).as(s"b$b"))
    val banded = sigs.select(col("doc"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
    // star edges: groupBy is a partial-agg (skew-safe), the back-join puts
    // ONE center row against each hot bucket's members — never m²
    val ctr = banded.groupBy("band", "bucket").agg(min("doc").as("__ctr"))
    val nearEdges = banded.join(ctr, Seq("band", "bucket"))
      .filter(col("doc") =!= col("__ctr"))
      .select(col("__ctr").as("id_a"), col("doc").as("id_b"))
      .distinct()
    val g = df.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("h"))
    val reps = g.groupBy("h").agg(min("id").as("id_a"))
    val exactPairs = g.join(reps, "h")
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
    val labels = clustersLogD(exactPairs.union(nearEdges), "id_a", "id_b")
    val drop = labels.filter(col("id") =!= col("cluster")).select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Incremental (cross-corpus) dedup: the verdict a NEW shard gets against
    * an already-cleaned reference corpus — the arrival-time form of dedup a
    * continuously-ingesting pipeline runs, where the reference's digests and
    * LSH band buckets are a precomputed INDEX and only the new shard is
    * hashed fresh. Per new document: `exact_dup` (its md5 digest exists in
    * the reference), `near_dup` (a shared MinHash band bucket with a
    * reference doc verified at exact shingle-Jaccard ≥ `threshold` — an
    * exact duplicate therefore also flags near), and `keep` (neither).
    *
    * Hash family is the cross-engine-reproducible md5 one
    * ([[minhashLshMd5]]), so an external auditor replays every verdict.
    * Scale shape: digests and band buckets join keyed on 16-byte md5s /
    * band strings, never text; both sides collapse exact-duplicate texts
    * before shingling (verdicts fan back out over the digest); the
    * reference side is corpus-sized so no broadcast hint — AQE decides. */
  def dedupIncremental(newDf: DataFrame, refDf: DataFrame, textCol: String,
      idCol: String, shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    def reps(df: DataFrame): DataFrame = df
      .select(md5(col(textCol)).as("__dig"), col(textCol).as("__text"))
      .dropDuplicates("__dig")
      .select(col("__dig"), shingles(col("__text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    def banded(repsDf: DataFrame): DataFrame = repsDf
      .select(col("__dig"), explode(col("sh")).as("shingle"))
      .groupBy("__dig")
      .agg(graft.functions.Md5HashAggs.minhash(col("shingle"), numHashes)
        .as("sig"))
      .select(col("__dig"),
        posexplode(array((0 until bands).map(b =>
          concat_ws(",", transform(
            slice(col("sig"), lit(b * rowsPerBand + 1), lit(rowsPerBand)),
            x => x.cast(StringType)))): _*))
          .as(Seq("band", "bucket")))
    val newReps = reps(newDf)
    val refReps = reps(refDf)
    val cands = banded(newReps)
      .join(banded(refReps)
        .withColumnRenamed("__dig", "__rdig"), Seq("band", "bucket"))
      .select("__dig", "__rdig").dropDuplicates("__dig", "__rdig")
    val nearDigs = cands
      .join(newReps.select(col("__dig"), col("sh").as("sh_a")), "__dig")
      .join(refReps.select(col("__dig").as("__rdig"), col("sh").as("sh_b")),
        "__rdig")
      .filter(round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))), 6) >= threshold)
      .select(col("__dig")).distinct()
      .withColumn("__near", lit(true))
    val refDigs = refDf.select(md5(col(textCol)).as("__dig")).distinct()
      .withColumn("__exact", lit(true))
    newDf.select(col(idCol).cast("long").as(idCol),
        md5(col(textCol)).as("__dig"))
      .join(refDigs, Seq("__dig"), "left")
      .join(nearDigs, Seq("__dig"), "left")
      .select(col(idCol),
        coalesce(col("__exact"), lit(false)).as("exact_dup"),
        coalesce(col("__near"), lit(false)).as("near_dup"))
      .withColumn("keep", !(col("exact_dup") || col("near_dup")))
      .orderBy(idCol)
  }

  /** Leakage-safe train/val/test split, with the leakage AUDIT that
    * motivates it: hashing each document's dup-CLUSTER label (exact-dup ∪
    * MinHash-LSH near-dup connected components, [[dedupNear]]'s pair
    * machinery) into a split keeps every duplicate family inside one
    * split, while the naive per-document hash split leaks near-duplicates
    * of training docs into val/test — the benchmark-contamination failure
    * mode a corpus release must measure, not assume away.
    *
    * Returns one row per split (`train`/`val`/`test`: buckets `0..7`/`8`/
    * `9` of `md5Lower63("split:" || key) % 10`) with document counts under
    * the cluster-keyed and the naive doc-keyed assignment, plus the
    * corpus-wide count of duplicate pairs whose endpoints straddle splits
    * under each scheme (`leaked_safe` is 0 by construction — the verdict
    * column).
    *
    * 100 TB shape: everything rides [[dedupNear]]'s shuffles (digest-keyed
    * exact pairs, banded LSH, O(log d) components); the split assignment
    * is a pure column hash, the audit one join of the pair list against
    * the per-doc split map, and the output is |splits| rows. */
  def leakageSplit(df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val g = df.select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("h"))
    val reps = g.groupBy("h").agg(min("id").as("id_a"))
    val exactPairs = g.join(reps, "h")
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
    val nearPairs = minhashLshMd5(df, textCol, idCol, shingleK, bands,
        rowsPerBand, threshold)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
    val pairs = exactPairs.union(nearPairs)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct().localCheckpoint(true)
    val labels = clustersLogD(pairs, "id_a", "id_b")
    def splitOf(key: Column): Column = {
      val b = pmod(md5Lower63(concat(lit("split:"), key.cast(StringType))),
        lit(10L))
      when(b < 8, lit("train")).when(b === 8, lit("val")).otherwise(lit("test"))
    }
    val docs = df.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .select(col("id"), splitOf(col("cluster")).as("safe_split"),
        splitOf(col("id")).as("naive_split"))
      .localCheckpoint(true)
    val perSplit = docs.groupBy(col("safe_split").as("split"))
      .agg(count(lit(1)).as("n_docs_safe"))
      .join(docs.groupBy(col("naive_split").as("split"))
        .agg(count(lit(1)).as("n_docs_naive")), Seq("split"), "full")
      .select(col("split"), coalesce(col("n_docs_safe"), lit(0L)).as("n_docs_safe"),
        coalesce(col("n_docs_naive"), lit(0L)).as("n_docs_naive"))
    val a = docs.select(col("id").as("id_a"), col("safe_split").as("sa"),
      col("naive_split").as("na"))
    val b = docs.select(col("id").as("id_b"), col("safe_split").as("sb"),
      col("naive_split").as("nb"))
    val leaks = pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .agg(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)).as("leaked_naive"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("leaked_safe"))
      .select(coalesce(col("leaked_naive"), lit(0L)).as("leaked_naive"),
        coalesce(col("leaked_safe"), lit(0L)).as("leaked_safe"))
    perSplit.crossJoin(broadcast(leaks))
  }

  /** Connected components in O(log diameter) rounds: alternating
    * LARGE-STAR / SMALL-STAR edge rewrites (the MapReduce CC algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * each node hooks onto the minimum of its neighborhood, halving chain
    * lengths per round instead of walking them. Use over [[clusters]] when
    * components can be LONG CHAINS (URL redirect graphs, co-citation
    * chains); for dense near-dup clusters both converge in a few rounds.
    *
    * Each half-round is one groupBy(min) + one join, both hash-shuffled on
    * the node id; the edge set is localCheckpointed per round with the
    * round's (count, hash) folded into the SAME job via accumulators —
    * convergence = two identical consecutive edge fingerprints, no extra
    * action. Output matches [[clusters]]: (id, cluster-min) per node. */
  def clustersLogD(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val cnt = spark.sparkContext.longAccumulator("cc_edge_count")
    val sig = spark.sparkContext.longAccumulator("cc_edge_hash")
    def fingerprinted(e: DataFrame): DataFrame = {
      cnt.reset(); sig.reset()
      e.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (u, v) =>
            cnt.add(1L)
            // order-independent fold: sum of per-edge hashes
            sig.add(java.lang.Long.rotateLeft(u * 0x9E3779B97F4A7C15L, 17) ^
              (v * 0xC2B2AE3D27D4EB4FL))
            (u, v)
          }
        }.toDF("u", "v").localCheckpoint() // eager: fills cnt/sig
    }
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u").as("lu"), least(col("mv"), col("u")).as("m"))
      nbrs.join(mins, nbrs("u") === col("lu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val mins = dir.groupBy("u").agg(min("v").as("m"))
        .select(col("u").as("su"), col("m"))
      dir.join(mins, dir("u") === col("su"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("su").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var edges = fingerprinted(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    val allNodes = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id"))).distinct().localCheckpoint()
    var prev = (cnt.value.longValue, sig.value.longValue)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      edges = fingerprinted(smallStar(largeStar(edges)))
      val cur = (cnt.value.longValue, sig.value.longValue)
      converged = cur == prev
      prev = cur
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"large-star/small-star did not converge in $maxIter rounds")
    // converged edges form stars: every node points at its component min
    val labeled = edges.select(greatest(col("u"), col("v")).as("id"),
      least(col("u"), col("v")).as("cluster"))
      .groupBy("id").agg(min("cluster").as("cluster"))
    // component minima (and isolated nodes of self-loop-only input) label
    // themselves
    allNodes.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Span-level exact-substring dedup (the Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better" operation,
    * re-expressed for Spark): a rolling window of `w` tokens is a
    * *duplicate span* when its hash occurs in at least `minDocs` DISTINCT
    * documents; every token covered by any duplicate window is removed and
    * the document re-assembled from the survivors. Unlike document-level
    * dedup this erases boilerplate *passages* (licence blocks, nav bars,
    * quoted chain mail) that hide inside otherwise-unique documents.
    * Within-doc repetition is deliberately NOT a trigger (that is
    * [[graft.llm.TextOps.repetitionFeatures]]'s job) — `minDocs >= 2`
    * counts documents, not occurrences.
    *
    * Output: `(idCol, clean_text, n_tokens, n_removed)` for EVERY input
    * doc (docs shorter than `w` tokens pass through untouched).
    *
    * Distributed shape, sized for 100 TB: window hashes are 63-bit md5
    * BIGINTs ([[md5Lower63]] — 8 bytes crosses the shuffle, not the span
    * text, and DuckDB replays them via `md5_number_lower`), one row per
    * (doc, window) — O(total tokens), the same blowup the suffix-array
    * formulation pays in its sort. The dup-hash set aggregates with
    * map-side partial `count(distinct doc)` collapse; cover positions
    * re-join on the hash (AQE broadcasts when the dup set is small, the
    * common case) and fold to one `collect_set` per doc, bounded by doc
    * length. Reassembly is the indexed-lambda `filter` — columnar, no
    * second explode. */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int, minDocs: Int = 2): DataFrame = {
    require(w >= 1, s"window must be >= 1 token: $w")
    val base = df.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"))
    val wins = base
      .filter(size(col("__toks")) >= w)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - w),
        i => md5Lower63(concat_ws(" ", slice(col("__toks"), i + 1, lit(w))))))
        .as(Seq("__pos", "__hv")))
    val dup = wins.groupBy("__hv")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs).select("__hv")
    val cov = wins.join(dup, "__hv")
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (w - 1))).as("__p"))
      .groupBy(idCol).agg(collect_set(col("__p")).as("__cov"))
    base.join(cov, Seq(idCol), "left")
      .select(col(idCol),
        concat_ws(" ", filter(col("__toks"),
          (_, i) => !array_contains(
            coalesce(col("__cov"), array().cast(ArrayType(IntegerType))), i)))
          .as("clean_text"),
        size(col("__toks")).as("n_tokens"),
        // size(null) is -1 under non-ANSI legacy semantics, so branch
        // explicitly instead of coalescing
        when(col("__cov").isNull, lit(0)).otherwise(size(col("__cov")))
          .as("n_removed"))
  }

  /** MinHash LSH band planner (Leskovec/Rajaraman/Ullman §3.4.3): for
    * every `(b, r)` with `b·r = nPerms`, the S-curve `1-(1-s^r)^b` gives
    * the candidate-pair probability at Jaccard `s`; the planner scores
    * each factorization by the false-positive area below `threshold` and
    * the false-negative area above it (midpoint Riemann sum on a fixed
    * `steps` grid — the arithmetic both engines replay literally) and
    * flags the minimum-total-error row. Pure driver-side math: this
    * PLANS the banding for [[minHashNearDups]], it never touches data. */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, nPerms: Int,
      threshold: Double, steps: Int = 1000): DataFrame = {
    import spark.implicits._
    val rows = (1 to nPerms).filter(nPerms % _ == 0).map { b =>
      val r = nPerms / b
      var fp = 0.0
      var fn = 0.0
      var k = 0
      while (k < steps) {
        val s = (k + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p / steps else fn += (1.0 - p) / steps
        k += 1
      }
      (b, r, fp, fn)
    }
    val bestB = rows.minBy { case (b, _, fp, fn) => (fp + fn, b) }._1
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    rows.map { case (b, r, fp, fn) =>
      (b, r, r6(fp), r6(fn), r6(fp + fn), b == bestB)
    }.toDF("b", "r", "fp_area", "fn_area", "total_err", "chosen")
  }
}
