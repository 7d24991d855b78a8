package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path is a broadcast of the (small) query set
  * against the (huge) corpus — one pass, no corpus shuffle, per-row top-k via
  * window over (query, sim). The LSH path buckets the corpus by sign-bit
  * hyperplane hashes so a 100 TB corpus is probed by bucket, not scanned.
  * Hyperplanes are pseudo-random but deterministic: components derived from
  * xxhash64(planeIdx, dim) mapped to [-1, 1).
  */
object VectorOps {

  /** Codegen'd native expression — see [[graft.functions.DotProduct]] for why
    * this beats `aggregate(zip_with(...))` (interpreted HOFs) in the ANN
    * inner loop. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Resolved graph-index handle, memoized per (session, path) — r17.
    * A warm 2-round serve was spending ~10 of its ~30 jobs re-resolving
    * the SAME four immutable-within-a-JVM tables: every
    * `spark.read.parquet` schedules a 1-task schema job, plus the meta
    * `head()` and entry `collect()` re-ran per serve. The memo holds the
    * RESOLVED relations and the two metadata-scale driver values (meta
    * row, sorted entry pool ≤ entryPool rows); no vector or adjacency
    * data is cached — every serve still reads its pruned partitions from
    * parquet. [[graphSave]]/[[graphUpsert]] invalidate the path's entries
    * after writing (the file set changed), so a stale file index can
    * never serve. */
  private final case class GraphIdx(nParts: Int, entryPool: Int, k: Int,
      entryIdsSorted: Seq[Long], graph: DataFrame, vectors: DataFrame)
  private final class IdxCell(thunk: () => GraphIdx) {
    lazy val value: GraphIdx = thunk()
  }
  private val idxCells =
    new java.util.concurrent.ConcurrentHashMap[String, IdxCell]()
  private def idxKey(spark: org.apache.spark.sql.SparkSession, path: String) =
    s"${graft.SparkEntry.sessionToken(spark)} \u0000 $path"
  private def invalidateIdx(path: String): Unit =
    idxCells.keySet.removeIf(_.endsWith("\u0000 " + path))
  private def loadIdx(spark: org.apache.spark.sql.SparkSession,
      path: String): GraphIdx = {
    if (idxCells.size > 256) idxCells.clear() // tests churn sessions/paths
    idxCells.computeIfAbsent(idxKey(spark, path), _ => new IdxCell(() => {
      val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
      require(metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(metaPath),
        s"$path has no meta table — the index predates the meta format " +
          "(or is not a graphSave index); rebuild it with graphSave")
      val meta = spark.read.parquet(s"$path/meta").head()
      // the ENTIRE entry pool (≤ entryPool rows by build contract), in
      // serve order — each serve takes its `entries` prefix driver-side
      val entryIds = spark.read.parquet(s"$path/entry")
        .orderBy(col("__e"), col("id")).select("id")
        .collect().map(_.getLong(0)).toSeq
      GraphIdx(meta.getAs[Int]("nParts"), meta.getAs[Int]("entryPool"),
        meta.getAs[Int]("k"), entryIds,
        spark.read.parquet(s"$path/graph"),
        spark.read.parquet(s"$path/vectors"))
    })).value
  }

  /** Widen an under-partitioned input to the cluster's parallelism before a
    * multi-use materialization. A small embedding table often arrives as ONE
    * parquet row group, so every split but one is empty and the decode +
    * normalize + checkpoint of the whole corpus runs on a single thread
    * (measured 10.6 s of llm_ann_graph's fixed cost at sf10). No-op when the
    * input is already at least as parallel as the cluster — a 100 TB corpus
    * with thousands of splits never pays an extra shuffle here. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** localCheckpoint + row count in ONE job, then COALESCE the materialized
    * frame to a row-proportional partition count (r17). [[spread]] widens a
    * frame to `defaultParallelism` so the decode/normalize parallelizes, but
    * a metadata-scale frame (a 400-row build slice, a 500-query serve batch)
    * then drags 32 near-empty partitions through every downstream job — and
    * in local mode the per-task fixed cost scales with cores, which is
    * exactly the 32-core anti-scaling PERF_r16 flagged (scaling 0.13 on the
    * graph pole). Coalesce is a NARROW dependency on the already-
    * materialized checkpoint: no second shuffle, no recompute, identical
    * rows — only the physical slice count changes. Frames at or above
    * 65536 rows/partition are untouched, so a production-scale corpus keeps
    * its parallelism. Returns the frame and the observed row: the count `n`
    * first, then `extra` in order. */
  private def ckptCompact(df: DataFrame, extra: Column*): (DataFrame, Row) = {
    val (ck, row) =
      graft.operators.Obs.checkpoint(df, count(lit(1)).as("n") +: extra: _*)
    val cur = ck.rdd.getNumPartitions
    val want = math.max(1L, math.min(cur.toLong, row.getLong(0) / 65536 + 1)).toInt
    (if (want < cur) ck.coalesce(want) else ck, row)
  }

  /** Broadcast a (localCheckpointed) normalized-vector table only when its
    * estimated in-memory size fits a BYTE budget. A row cap alone is a
    * scale trap: 1 M rows is a 0.5 GB broadcast at dim=64 but 6-12 GB at
    * production dims (768-1536) — an executor OOM exactly where the
    * high-dim ρ-sampling path is supposed to shine (r13 verdict #4). The
    * dim is read from the first row (plan-time metadata-scale action);
    * estimate = rows × (dim × 8 B + ~32 B row overhead). Default budget
    * 256 MB, overridable via graft.ann.broadcastVectors.maxBytes. */
  private[graft] def maybeBroadcastVecs(vecs: DataFrame,
      vecCol: String = "__v", knownRows: Option[Long] = None): DataFrame = {
    val conf = vecs.sparkSession.conf
    val maxBytes = conf
      .get("graft.ann.broadcastVectors.maxBytes", (256L << 20).toString).toLong
    // the pre-r14 row-cap knob is still honored when set (a deployment that
    // tuned it must not silently fall back to the byte budget alone)
    val maxRows = conf
      .get("graft.ann.broadcastVectors.maxRows", Long.MaxValue.toString).toLong
    // a caller that already counted the frame (graphSave's checkpoint
    // Observation) passes the count in — one probe job less per build (r17)
    val n = knownRows.getOrElse(vecs.count())
    // dim probe must skip null vectors: size(null) is null and head.getInt
    // would throw on a null-first table (ADVICE r14)
    val dim = vecs.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
      .headOption.map(_.getInt(0).toLong).getOrElse(0L)
    if (n <= maxRows && n * (dim * 8 + 32) <= maxBytes) broadcast(vecs)
    else vecs
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0d))
  }

  /** L2-normalize a vector (zero vectors pass through unscaled). */
  def normalize(a: Column): Column = {
    val n = norm(a)
    when(n > 0, transform(a, x => x / n)).otherwise(a)
  }

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries(query_id, qvec)` is broadcast; corpus is scanned once. Both
    * sides are normalized ONCE per row before the join so each of the
    * corpus×queries pairs costs a single dot product — norms are never
    * recomputed per pair. */
  def bruteTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    val q = queries.select(col(qIdCol).as("query_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__v"), col("__q")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * query, the `k` MOST-similar corpus vectors whose cosine stays BELOW
    * `dupThreshold` — close enough to be hard, far enough to not be the
    * positive/near-duplicate band (which would poison the contrastive
    * loss). Same candidate shape as [[bruteTopK]] (broadcast query side,
    * per-query top-k); the dup-band filter runs BEFORE the ranking window
    * so near-dups never occupy top-k slots. The threshold compare is
    * cross-engine exact: both engines fold the dot product in index order
    * over the same doubles. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String, k: Int,
      dupThreshold: Double): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("neg_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    val q = queries.select(col(qIdCol).as("query_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("neg_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__v"), col("__q")))
      .filter(col("sim") < dupThreshold)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neg_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neg_id"), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every corpus vector
    * to its nearest centroid (= its inverted list); queries probe the
    * `nProbe` nearest centroids only. On clustered embeddings this beats
    * hyperplane LSH: buckets follow the actual data distribution instead of
    * random cuts.
    *
    * Recall lower bound to size `nProbe` by: on STRUCTURELESS (uniform)
    * vectors no quantizer helps and recall degrades to the scan coverage,
    * recall ~= nProbe/nLists (measured on the synthetic test embeddings:
    * 2/16=0.42, 4/16=0.59, 8/16=0.81). Real corpora cluster, so their
    * recall at a given coverage is strictly higher; budget nProbe for the
    * coverage bound only when the embedding distribution is unknown.
    *
    * The quantizer is a spherical k-means trained HERE in a handful of
    * DataFrame jobs — hash-ordered deterministic seeding, then `lloydIters`
    * Lloyd steps (assign by map-side dot-product argmin, re-average per list
    * via one posexplode aggregation, re-normalize). MLlib's KMeans was
    * measured 20-50× slower for this: it runs dozens of tiny driver-blocking
    * jobs, which is pure scheduler overhead at any scale and serializes the
    * whole bench under a FAIR pool. At 100 TB: set `trainFraction` so the
    * quantizer trains on a hash-deterministic sample — the seed top-N and
    * Lloyd scans then touch only the sample; assignment stays map-side over
    * the full corpus.
    */
  /** argmin over centroid dot products (unit vectors: max dot = min L2). */
  private def ivfBestLists(cents: Array[Array[Double]], v: Column,
      n: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (ct, i) =>
      struct((-dot(v, lit(ct))).as("d"), lit(i).as("list"))
    }.toIndexedSeq: _*)
    slice(array_sort(scored), 1, n)
  }

  /** Deterministic IVF quantizer training over normalized `(nn_id, __v)`
    * rows: lowest-xxhash seed rows + `lloydIters` spherical Lloyd rounds
    * (one aggregation job each). Shared by [[ivfTopK]] and [[ivfSave]]. */
  private def ivfTrainCentroids(train: DataFrame, nLists: Int,
      lloydIters: Int): Array[Array[Double]] = {
    def normed(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n > 0) a.map(_ / n) else a
    }
    // deterministic pseudo-random seeds: the nLists lowest-hash train rows
    // (orderBy+limit plans as TakeOrderedAndProject — per-partition top-N,
    // no full sort)
    var cents: Array[Array[Double]] = train
      .orderBy(xxhash64(col("nn_id").cast(StringType)))
      .limit(nLists).select("__v").collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until lloydIters) {
      // one aggregation job per Lloyd step: mean per (list, dimension)
      val means = train
        .withColumn("list",
          element_at(ivfBestLists(cents, col("__v"), 1), 1).getField("list"))
        .select(col("list"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("list", "pos").agg(avg("x").as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getAs[Int]("list"))(r.getAs[Int]("pos")) =
        r.getAs[Double]("m"))
      cents = next.map(normed) // spherical: centroids live on the unit sphere
    }
    cents
  }

  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nLists: Int = 16, nProbe: Int = 2,
      lloydIters: Int = 2, trainFraction: Double = 1.0): DataFrame = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1]: $trainFraction")
    val c0 = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // At 100 TB the quantizer trains on a deterministic sample — k-means
    // centroids converge on a fraction of the corpus; only ASSIGNMENT must
    // see every row (and that is map-side). Sampling by hash, not
    // .sample(), so the train set is reproducible across engines/retries.
    val train =
      if (trainFraction >= 1.0) c0
      else c0.filter(
        pmod(xxhash64(col("nn_id").cast(StringType)), lit(1000000)) <
          lit((trainFraction * 1000000).toLong))
    val cents = ivfTrainCentroids(train, nLists, lloydIters)
    def bestLists(v: Column, n: Int): Column = ivfBestLists(cents, v, n)
    val c = c0.withColumn("list",
      element_at(bestLists(col("__v"), 1), 1).getField("list"))
    val q = queries.select(col(qIdCol).as("query_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
      .withColumn("list",
        explode(transform(bestLists(col("__q"), nProbe), e => e.getField("list"))))
    val joined = c.join(broadcast(q), Seq("list"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__v"), col("__q")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Persist an IVF index: normalized vectors written as parquet
    * PARTITIONED BY inverted-list id (so serving scans only probed
    * lists via partition pruning), plus the trained centroids. The
    * build-once/serve-many separation a production ANN deployment needs —
    * at 100 TB the index is built by one job and queried by many, and
    * each query's IO is `nProbe/nLists` of the corpus, not a full scan.
    * Same deterministic trainer as [[ivfTopK]]. */
  def ivfSave(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, lloydIters: Int = 2): Unit = {
    val c0 = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = ivfTrainCentroids(c0, nLists, lloydIters)
    c0.withColumn("list",
        element_at(ivfBestLists(cents, col("__v"), 1), 1).getField("list"))
      .select(col("nn_id"), col("__v").as("vec"), col("list"))
      .write.mode("overwrite").partitionBy("list")
      .parquet(s"$path/index")
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("list", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    c0.unpersist()
  }

  /** Serve top-k cosine queries from a saved [[ivfSave]] index: load the
    * (tiny) centroid table, compute each query's `nProbe` lists, and read
    * ONLY those partitions of the index — `.explain` shows the list
    * filter as a PartitionFilter, so the scan touches `nProbe/nLists` of
    * the data. Scoring is the same broadcast-query join as [[ivfTopK]];
    * results are identical to the inline operator for the same
    * parameters (spec-pinned). */
  def ivfServe(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val cents: Array[Array[Double]] = spark.read
      .parquet(s"$path/centroids").orderBy("list")
      .collect().map(_.getSeq[Double](1).toArray)
    val q = queries.select(col(qIdCol).as("query_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
      .withColumn("list", explode(transform(
        ivfBestLists(cents, col("__q"), nProbe), e => e.getField("list"))))
    val probed = q.select("list").distinct()
      .collect().map(_.getInt(0)).toSeq
    val idx = spark.read.parquet(s"$path/index")
      .filter(col("list").isin(probed: _*))
    val joined = idx.join(broadcast(q), Seq("list"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", dot(col("vec"), col("__q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"),
        round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Product-quantization ANN (the IVF-PQ family's compression half,
    * Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): vectors compress to `m` one-byte codes (one per subspace),
    * and each query scores a candidate with `m` table lookups instead of a
    * `dim`-wide dot product — the classic memory/bandwidth lever when
    * 100 TB of embeddings can't hold float vectors in RAM.
    *
    * Deterministic by construction so the ENTIRE path replays in SQL when
    * `lloydIters = 0`: codebook seeds are the `ks` corpus rows with the
    * smallest `md5Lower63(seed:id)` (subspace j's centroids are their j-th
    * segments); assignment is L2-argmin with index tie-break; ADC
    * similarity is the j-ordered left fold `((t₀+t₁)+t₂)+…` the oracle
    * reproduces with explicit parentheses.
    *
    * Scale shape: one TakeOrdered for seeds (ks rows to the driver —
    * metadata), optional Lloyd rounds as one aggregation job each, encode
    * as a map-only JVM pass against broadcast centroids, scoring as a
    * broadcast of the (small) query side with its precomputed ADC tables
    * — the corpus never shuffles; only per-query top-k ranks. */
  /** The `n` corpus rows with the smallest `md5Lower63(prefix || id)` —
    * the deterministic, SQL-replayable seed pick shared by PQ and IVF-PQ
    * (TakeOrdered: n rows to the driver, metadata-scale). */
  private def md5Seeds(c0: DataFrame, prefix: String, n: Int): Array[Array[Double]] = {
    val rows = c0.orderBy(DedupOps.md5Lower63(
        concat(lit(prefix), col("nn_id").cast(StringType))), col("nn_id"))
      .limit(n).select("__v").collect().map(_.getSeq[Double](0).toArray)
    require(rows.length == n, s"need >= $n corpus rows to seed (got ${rows.length})")
    rows
  }

  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, m: Int = 4, ks: Int = 8, lloydIters: Int = 0,
      seed: String = "pq"): DataFrame = {
    require(m > 0 && ks > 0)
    val spark = corpus.sparkSession
    val c0 = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    val seedRows = md5Seeds(c0, seed + ":", ks)
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m, ks)((j, c) => seedRows(c).slice(j * sub, (j + 1) * sub))

    def argminCode(cs: Array[Array[Array[Double]]], v: Array[Double], j: Int): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = v(j * sub + i) - cs(j)(c)(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict: ties keep lowest c
        c += 1
      }
      best
    }

    for (_ <- 0 until lloydIters) {
      val bc = spark.sparkContext.broadcast(cents)
      val partSchema = StructType(Seq(
        StructField("j", IntegerType, nullable = false),
        StructField("c", IntegerType, nullable = false),
        StructField("pos", IntegerType, nullable = false),
        StructField("s", DoubleType, nullable = false),
        StructField("n", LongType, nullable = false)))
      val partials = c0.select(col("__v")).mapPartitions { it =>
        val cs = bc.value
        val acc = Array.fill(m, ks, sub)(0.0)
        val cnt = Array.fill(m, ks)(0L)
        it.foreach { r =>
          val v = r.getSeq[Double](0).toArray
          var j = 0
          while (j < m) {
            val code = argminCode(cs, v, j)
            cnt(j)(code) += 1
            var i = 0
            while (i < sub) { acc(j)(code)(i) += v(j * sub + i); i += 1 }
            j += 1
          }
        }
        for { j <- (0 until m).iterator; c <- 0 until ks if cnt(j)(c) > 0
              i <- 0 until sub }
          yield Row(j, c, i, acc(j)(c)(i), if (i == 0) cnt(j)(c) else 0L)
      }(org.apache.spark.sql.Encoders.row(partSchema)).collect()
      val sums = Array.fill(m, ks, sub)(0.0); val cnts = Array.fill(m, ks)(0L)
      partials.foreach { r =>
        sums(r.getInt(0))(r.getInt(1))(r.getInt(2)) += r.getDouble(3)
        cnts(r.getInt(0))(r.getInt(1)) += r.getLong(4)
      }
      cents = Array.tabulate(m, ks) { (j, c) =>
        if (cnts(j)(c) == 0) cents(j)(c)
        else Array.tabulate(sub)(i => sums(j)(c)(i) / cnts(j)(c))
      }
    }

    // encode: map-only JVM pass, m bytes per vector
    val bcFinal = spark.sparkContext.broadcast(cents)
    val codeSchema = StructType(Seq(
      StructField("nn_id", c0.schema("nn_id").dataType),
      StructField("__codes", ArrayType(IntegerType, containsNull = false))))
    val codes = c0.mapPartitions { it =>
      val cs = bcFinal.value
      it.map { r =>
        val v = r.getSeq[Double](1).toArray
        Row(r.get(0), (0 until m).map(j => argminCode(cs, v, j)): Seq[Int])
      }
    }(org.apache.spark.sql.Encoders.row(codeSchema))

    // query side: ADC table (m × ks partial dot products) built in the
    // same JVM pass style as encode — the j-ordered left-fold accumulation
    // the oracle reproduces with explicit parentheses
    val qSchema = StructType(Seq(
      StructField("query_id", queries.schema(qIdCol).dataType),
      StructField("__tab", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false))))
    val q = queries.select(col(qIdCol).as("query_id"),
        normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
      .mapPartitions { it =>
        val cs = bcFinal.value
        it.map { r =>
          val qv = r.getSeq[Double](1).toArray
          val tab: Seq[Seq[Double]] = (0 until m).map { j =>
            (0 until ks).map { c =>
              var d = 0.0; var i = 0
              while (i < sub) { d += qv(j * sub + i) * cs(j)(c)(i); i += 1 }
              d
            }
          }
          Row(r.get(0), tab)
        }
      }(org.apache.spark.sql.Encoders.row(qSchema))
    val sim = (0 until m).map(j =>
      element_at(element_at(col("__tab"), j + 1),
        element_at(col("__codes"), j + 1) + 1)).reduce(_ + _)
    val joined = codes.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", sim)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** IVF-PQ — the production ANN shape (FAISS's default index family):
    * a coarse quantizer prunes the corpus to `nProbe` of `nLists` inverted
    * lists, and PQ codes score the survivors with `m` table lookups each.
    * Pruning bounds IO (only probed lists are touched), PQ bounds memory
    * (m bytes per vector) — together they are why a 100 TB embedding
    * corpus is searchable at all.
    *
    * Deterministic like [[pqTopK]]: coarse centroids = the `nLists`
    * lowest-`md5(seed:coarse:id)` rows, codebook = the `ks`
    * lowest-`md5(seed:pq:id)` rows; both assignments argmax/argmin with
    * index tie-breaks, so the WHOLE index build + search replays in SQL.
    * Corpus never shuffles: assignment+encode is one map-only JVM pass,
    * the probe join broadcasts the query side keyed by list. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nLists: Int = 8, nProbe: Int = 2, m: Int = 4, ks: Int = 8,
      seed: String = "ivfpq"): DataFrame = {
    require(nLists > 0 && nProbe > 0 && nProbe <= nLists && m > 0 && ks > 0)
    val spark = corpus.sparkSession
    val c0 = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    val coarse = md5Seeds(c0, seed + ":coarse:", nLists)
    val seedRows = md5Seeds(c0, seed + ":pq:", ks)
    val dim = seedRows.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val cents: Array[Array[Array[Double]]] =
      Array.tabulate(m, ks)((j, c) => seedRows(c).slice(j * sub, (j + 1) * sub))
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcCents = spark.sparkContext.broadcast(cents)

    def dotFull(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    def bestList(cs: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bd = Double.MinValue
      var l = 0
      while (l < cs.length) { // unit sphere: max dot = min L2
        val d = dotFull(v, cs(l))
        if (d > bd) { bd = d; best = l } // strict: ties keep lowest l
        l += 1
      }
      best
    }
    def pqCode(cs: Array[Array[Array[Double]]], v: Array[Double], j: Int): Int = {
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < ks) {
        var d = 0.0; var i = 0
        while (i < sub) { val x = v(j * sub + i) - cs(j)(c)(i); d += x * x; i += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }

    // assignment + encode in ONE map-only pass
    val codeSchema = StructType(Seq(
      StructField("nn_id", c0.schema("nn_id").dataType),
      StructField("__list", IntegerType, nullable = false),
      StructField("__codes", ArrayType(IntegerType, containsNull = false))))
    val codes = c0.mapPartitions { it =>
      val co = bcCoarse.value; val cs = bcCents.value
      it.map { r =>
        val v = r.getSeq[Double](1).toArray
        Row(r.get(0), bestList(co, v),
          (0 until m).map(j => pqCode(cs, v, j)): Seq[Int])
      }
    }(org.apache.spark.sql.Encoders.row(codeSchema))

    // query side: nProbe coarse lists (by dot desc, index tie) + ADC table
    val qSchema = StructType(Seq(
      StructField("query_id", queries.schema(qIdCol).dataType),
      StructField("__list", IntegerType, nullable = false),
      StructField("__tab", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false))))
    val q = queries.select(col(qIdCol).as("query_id"),
        normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
      .mapPartitions { it =>
        val co = bcCoarse.value; val cs = bcCents.value
        it.flatMap { r =>
          val qv = r.getSeq[Double](1).toArray
          val probes = (0 until nLists)
            .map(l => (l, dotFull(qv, co(l))))
            .sortBy { case (l, d) => (-d, l) }.take(nProbe).map(_._1)
          val tab: Seq[Seq[Double]] = (0 until m).map { j =>
            (0 until ks).map { c =>
              var d = 0.0; var i = 0
              while (i < sub) { d += qv(j * sub + i) * cs(j)(c)(i); i += 1 }
              d
            }
          }
          probes.map(l => Row(r.get(0), l, tab))
        }
      }(org.apache.spark.sql.Encoders.row(qSchema))
    val sim = (0 until m).map(j =>
      element_at(element_at(col("__tab"), j + 1),
        element_at(col("__codes"), j + 1) + 1)).reduce(_ + _)
    val joined = codes.join(broadcast(q), Seq("__list"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", sim)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), round(col("sim"), 6).as("sim"),
        col("rank"))
  }

  /** Deterministic random hyperplanes, generated driver-side with a fixed
    * seed and embedded as literal arrays — each row then pays `nPlanes` dot
    * products instead of nPlanes×dim hash evaluations. java.util.Random's
    * algorithm is specified, so planes are identical on every JVM/cluster. */
  private[graft] def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id from `nPlanes` literal hyperplanes. */
  def hyperplaneBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    planes(nPlanes, dim).zipWithIndex.map { case (p, i) =>
      when(dot(vec, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** ANN via hyperplane-LSH. Multi-probe: each query also probes the buckets
    * at Hamming distance 1 from its own (flip each plane bit once) —
    * `1 + nPlanes` probes per query lifts recall substantially for near-
    * boundary vectors while the corpus is still scanned by bucket, never
    * fully. The corpus side stays one row per vector; only the (small,
    * broadcast) query side explodes. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, nPlanes: Int = 12, dim: Int = 64,
      multiProbe: Boolean = true): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("nn_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
      .withColumn("bucket", hyperplaneBucket(col("__v"), nPlanes, dim))
    val q0 = queries.select(col(qIdCol).as("query_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
      .withColumn("__b0", hyperplaneBucket(col("__q"), nPlanes, dim))
    val q =
      if (multiProbe)
        q0.withColumn("bucket", explode(array(
          (col("__b0") +: (0 until nPlanes).map(i =>
            col("__b0").bitwiseXOR(lit(1L << i)))): _*))).drop("__b0")
      else q0.withColumnRenamed("__b0", "bucket")
    val joined = c.join(broadcast(q), Seq("bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("sim", dot(col("__v"), col("__q")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("nn_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: `(id_a, id_b, cos)` with
    * `cos >= threshold`, `id_a < id_b`. EXACT — every qualifying pair is
    * found (this is the dedup analogue of [[bruteTopK]]: use it to verify,
    * or on corpora small enough for an all-pairs pass). Exact duplicates
    * are pre-collapsed first (output-identical, see below), so the
    * broadcast nested-loop self-join is O(d²) in DISTINCT vectors — fine
    * up to a few hundred thousand distinct normalized vectors; beyond
    * that use [[embedNearDupLsh]], which only compares within
    * sign-buckets. */
  def embedNearDupExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = spread(df).select(col(idCol).as("__id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    // Exact-duplicate pre-collapse (round 13, mirrors [[embedNearDupLsh]]):
    // cosine depends only on the vector VALUES, so grouping identical
    // post-normalization vectors and running all-pairs over one
    // representative per group is OUTPUT-IDENTICAL — cross-group pairs
    // score the same dot, same-group pairs all score round(dot(v,v),6).
    // All-pairs cost drops from O(n²) to O(d²) in the number of DISTINCT
    // vectors d (a 10⁴× cut on a 100x-replicated corpus; real dedup
    // corpora are duplicate-heavy by definition). The expansion emits
    // only id/id/cos rows — the op's contract — never vectors.
    // persisted (r16): several subtrees scan this aggregate (rep sides,
    // both cross-group re-joins, the self expansion) — unpersisted, the
    // plan recomputed the spread + groupBy(__v) per scan (audit:
    // plans/r16/llm_embed_neardup_audit.txt counted 5 copies of the
    // HashAggregate+Exchange pair; one compute + cached reads replace them)
    val grp = n.groupBy(col("__v"))
      .agg(min(col("__id")).as("__id"), collect_list(col("__id")).as("__ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = grp.select(col("__id"), col("__v"))
    val a = reps.select(col("__id").as("id_a"), col("__v").as("__va"))
    val b = reps.select(col("__id").as("id_b"), col("__v").as("__vb"))
    val repPairs = a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    // each id belongs to exactly one group, so a cross pair is produced by
    // exactly one rep pair — no dedup needed
    val cross = repPairs
      .join(grp.select(col("__id").as("id_a"), col("__ids").as("__la")), "id_a")
      .join(grp.select(col("__id").as("id_b"), col("__ids").as("__lb")), "id_b")
      .select(explode(col("__la")).as("__ia"), col("__lb"), col("cos"))
      .select(col("__ia"), explode(col("__lb")).as("__ib"), col("cos"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("cos"))
    val self = grp.filter(size(col("__ids")) > 1)
      .withColumn("cos", round(dot(col("__v"), col("__v")), 6))
      .filter(col("cos") >= threshold)
      .select(explode(col("__ids")).as("__ia"), col("__ids"), col("cos"))
      .select(col("__ia"), explode(col("__ids")).as("__ib"), col("cos"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"), col("cos"))
    cross.unionByName(self)
  }

  /** LSH-bucketed embedding near-dup: candidate pairs share the full
    * sign-bit bucket over `nPlanes` hyperplanes; the exact cosine then
    * verifies `>= threshold`. One shuffle on the 64-bit bucket, pairs only
    * form inside buckets — the 100 TB path. Recall < 1 by construction
    * (near-dups straddling a plane in every probe are missed); more bands =
    * more recall, like [[DedupOps.minhashLsh]] banding. */
  def embedNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 8, dim: Int = 64,
      bands: Int = 4): DataFrame = {
    val n = spread(df).select(col(idCol).as("__id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    // Exact-duplicate PRE-COLLAPSE (round 13; the SimHash path already did
    // this): identical post-normalization vectors land in the same bucket
    // of EVERY band, so banding them individually floods dense buckets
    // with |copies|² candidate rows each dragging two vectors through the
    // join (the 100x replica melted here — 80M 1 KB rows). Group to one
    // representative per distinct vector, band/score the representatives
    // (payload joins stay tiny), and expand ID pairs at the end.
    // Output-identical: same-group pairs share all buckets and score
    // round(dot(v,v),6); cross-group pairs share a bucket iff their
    // representatives do. The expansion itself is Θ(Σ|group|²) rows —
    // that is the op's CONTRACT (it emits every qualifying pair), but the
    // expanded rows are id/id/cos only, never vectors.
    // persisted (r16): several subtrees scan this aggregate (rep sides,
    // both cross-group re-joins, the self expansion) — unpersisted, the
    // plan recomputed the spread + groupBy(__v) per scan (audit:
    // plans/r16/llm_embed_neardup_audit.txt counted 5 copies of the
    // HashAggregate+Exchange pair; one compute + cached reads replace them)
    val grp = n.groupBy(col("__v"))
      .agg(min(col("__id")).as("__id"), collect_list(col("__id")).as("__ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = grp.select(col("__id"), col("__v"))
    // `bands` independent sign-buckets (disjoint plane sets); a pair is a
    // candidate when ANY band's bucket matches
    val banded = reps.select(col("__id"), col("__v"),
      posexplode(array((0 until bands).map(bd =>
        hyperplaneBucketAt(col("__v"), nPlanes, dim, bd * nPlanes)): _*))
        .as(Seq("bandIdx", "bucket")))
    val a = banded.select(col("bandIdx"), col("bucket"),
      col("__id").as("id_a"), col("__v").as("__va"))
    val b = banded.select(col("bandIdx"), col("bucket"),
      col("__id").as("id_b"), col("__v").as("__vb"))
    val repPairs = a.join(b, Seq("bandIdx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__va"), col("__vb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", round(dot(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    // cross-group expansion: each id belongs to exactly one group, so a
    // pair is produced by exactly one rep pair — no dedup needed
    val cross = repPairs
      .join(grp.select(col("__id").as("id_a"), col("__ids").as("__la")), "id_a")
      .join(grp.select(col("__id").as("id_b"), col("__ids").as("__lb")), "id_b")
      .select(explode(col("__la")).as("__ia"), col("__lb"), col("cos"))
      .select(col("__ia"), explode(col("__lb")).as("__ib"), col("cos"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("cos"))
    // same-group pairs: every copy pair qualifies at cos(v, v)
    val self = grp.filter(size(col("__ids")) > 1)
      .withColumn("cos", round(dot(col("__v"), col("__v")), 6))
      .filter(col("cos") >= threshold)
      .select(explode(col("__ids")).as("__ia"), col("__ids"), col("cos"))
      .select(col("__ia"), explode(col("__ids")).as("__ib"), col("cos"))
      .filter(col("__ia") < col("__ib"))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"), col("cos"))
    cross.unionByName(self)
  }

  /** Sign-bucket over an independent plane set per band (seed varies by
    * band offset, staying deterministic across JVMs). */
  private def hyperplaneBucketAt(vec: Column, nPlanes: Int, dim: Int,
      offset: Int): Column =
    planes(nPlanes, dim, seed = 42L + offset).zipWithIndex.map { case (p, i) =>
      when(dot(vec, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Recall@k of an approximate top-k result against its exact twin
    * ([[bruteTopK]]): ONE row `(n_queries, recall)` where `recall` is the
    * mean per-query fraction of exact neighbors the approximate method
    * found. Both inputs carry `(query_id, nn_id)`; the join is on those
    * keys only, so tie-broken rank differences don't matter. This is the
    * measurable harness behind the rows-only ANN entries: a pinned recall
    * floor turns "approximate" into a regression-checked contract. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = exact.select(col("query_id"), col("nn_id"))
      .join(approx.select(col("query_id"), col("nn_id"), lit(1).as("__hit")),
        Seq("query_id", "nn_id"), "left")
    hits.groupBy("query_id")
      .agg((sum(coalesce(col("__hit"), lit(0))).cast(DoubleType) /
        count(lit(1))).as("__r"))
      .agg(count(lit(1)).as("n_queries"), avg(col("__r")).as("recall"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — cluster the embedding space, then inside each cluster
    * drop documents whose cosine similarity to a LOWER-ID cluster-mate
    * reaches `tau`. Returns every input doc as
    * `(vec_id, cluster, max_cos_lower, keep)` where `max_cos_lower` is the
    * highest rounded cosine against any lower-id doc of the same cluster
    * (null when the doc is its cluster's lowest id) and
    * `keep = max_cos_lower < tau`.
    *
    * Determinism/replay: centroids are the `nClusters` docs with the
    * lowest `md5(seed:id)` ([[graft.llm.DedupOps.md5Lower63]] family — an
    * external engine picks the identical set), refined by `lloydIters`
    * spherical Lloyd steps (0 = pure seed pick, fully SQL-replayable;
    * DuckDB replays seed-pick → argmax assignment → pair threshold
    * end-to-end). Assignment argmax compares `round(dot, 6)` with a
    * lowest-index tiebreak so float summation-order differences across
    * engines cannot flip a cluster choice.
    *
    * The drop rule is greedy-by-id and NON-recursive: doc b dies when ANY
    * lower-id a (kept or not) sits within tau. The recursive variant
    * ("only KEPT docs kill") needs a sequential scan per cluster; the
    * non-recursive form over-drops only inside chains that are all mutual
    * near-dups anyway (SemDeDup's published epsilon-ball greedy has the
    * same property) and stays one join + one aggregation.
    *
    * 100 TB shape: centroid pick is a TakeOrderedAndProject (per-partition
    * top-k, k rows to the driver — metadata scale); assignment is
    * map-side against literal centroid arrays (no shuffle, codegen-friendly
    * up to a few hundred centroids — beyond that, switch to a broadcast
    * join); the only data shuffle is the self-join keyed on `cluster`,
    * whose cost is Σ|cluster|² — `nClusters` scales ~√N to bound it, and a
    * mega-cluster (the skew case) wants the same exact-dup pre-collapse
    * [[graft.llm.DedupOps.simhashNearDup]] uses before pairing. */
  /** Retrieval-quality evaluation of the exact cosine ranking: MRR and
    * nDCG@k per query, with same-label corpus vectors as the relevance
    * set — the standard eval a retrieval/embedding pipeline reports
    * (Järvelin & Kekäläinen 2002 for nDCG). Per query over the
    * [[bruteTopK]] ranking: `hits` (relevant in the top k),
    * `mrr = 1/rank` of the first relevant (0 when none), and
    * `ndcg = DCG/IDCG` with binary gains `Σ rel_i / log2(i+1)` and the
    * ideal prefix `min(R, k)`; `n_rel = R` is the query's total relevant
    * corpus count. DCG folds the rank-sorted gain list left-to-right and
    * rounds at 6, so any engine replays it exactly.
    *
    * Scale: rides bruteTopK's one corpus scan against the broadcast query
    * set; the relevance join keys the (tiny) per-label count table; no new
    * corpus shuffle. Swap any ANN ranking in for bruteTopK to eval an
    * index — same metric plumbing. */
  def retrievalEval(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, k: Int): DataFrame = {
    val ranked = bruteTopK(corpus, idCol, vecCol,
      queries.select(col(idCol), col(vecCol)), idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("__lid"),
      col(labelCol).as("__lab"))
    val relRanked = ranked
      .join(labels.select(col("__lid").as("query_id"),
        col("__lab").as("__qlab")), Seq("query_id"))
      .join(labels.select(col("__lid").as("nn_id"),
        col("__lab").as("__nlab")), Seq("nn_id"))
      .withColumn("__rel",
        when(col("__qlab") === col("__nlab"), 1.0).otherwise(0.0))
    // R: per-label corpus counts broadcast back to the queries (minus the
    // query itself)
    val labCnt = corpus.groupBy(col(labelCol).as("__lab"))
      .agg(count(lit(1)).as("__labn"))
    val perQuery = relRanked.groupBy(col("query_id"), col("__qlab"))
      .agg(
        sum(col("__rel")).cast("long").as("hits"),
        min(when(col("__rel") > 0, col("rank"))).as("__first"),
        // rank-ordered exact DCG fold
        aggregate(
          transform(array_sort(collect_list(struct(col("rank"),
            col("__rel")))), s => s.getField("__rel") /
              log2(s.getField("rank") + lit(1.0))),
          lit(0.0), (a, x) => a + x).as("__dcg"))
    perQuery
      .join(broadcast(labCnt), col("__qlab") === col("__lab"))
      .withColumn("n_rel", (col("__labn") - 1).cast("long"))
      .withColumn("mrr", round(coalesce(lit(1.0) /
        col("__first").cast(DoubleType), lit(0.0)), 6))
      // sequence(1, 0) DESCENDS in Spark (see wordNgrams) — guard n_rel=0
      .withColumn("__idcg", when(col("n_rel") >= 1, aggregate(
        sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
        lit(0.0), (a, i) => a + lit(1.0) / log2(i.cast(DoubleType) + lit(1.0))))
        .otherwise(lit(0.0)))
      .withColumn("ndcg", when(col("__idcg") > 0,
        round(col("__dcg") / col("__idcg"), 6)).otherwise(lit(0.0)))
      .select(col("query_id"), col("n_rel"), col("hits"), col("mrr"),
        col("ndcg"))
      .orderBy("query_id")
  }

  /** k-center greedy / farthest-point sampling (Gonzalez 1985) — the
    * coreset SELECTION step of diversity-driven data curation: pick the
    * vector farthest from everything picked so far, `k` times, so the
    * selection 2-approximates the optimal covering radius. Distance is
    * squared L2 via the inner-product identity `|p|² + |c|² − 2·p·c`
    * (each term a [[dot]] — index-ordered double sums any engine
    * replays), quantized at 6 before comparisons; ties break to the
    * lowest id. The seed pick is the md5-lowest `"kc:" || id` (the
    * [[semDedup]] convention).
    *
    * Returns `(round, vec_id, dist)` — `dist` is the point's min distance
    * to the previously-selected set at the moment of selection (the
    * covering radius trajectory; 0 for the seed).
    *
    * 100 TB shape: the min-distance column updates INCREMENTALLY (one new
    * `least` term per round — O(k) dots per point total, not O(k²)),
    * localCheckpointed per round like the connected-components loop;
    * argmax is a TakeOrdered (never a global sort); selected vectors
    * travel as broadcast literals (k·dim doubles). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    val base = spread(df).select(col(idCol).cast(LongType).as("vec_id"),
      col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .withColumn("__sq", dot(col("__v"), col("__v")))
    def sqOf(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    val seedRow = base
      .withColumn("__h", DedupOps.md5Lower63(
        concat(lit("kc:"), col("vec_id").cast(StringType))))
      .orderBy(col("__h"), col("vec_id")).limit(1).head()
    var cVec = seedRow.getSeq[Double](1).toArray
    val out = Array.newBuilder[Row]
    out += Row(1, seedRow.getLong(0), 0.0)
    def dist6(c: Array[Double]): Column =
      round(col("__sq") + lit(sqOf(c)) - lit(2.0) * dot(col("__v"), lit(c)), 6)
    var cur = base.withColumn("__mind", dist6(cVec)).localCheckpoint(true)
    // already-selected ids never re-enter the argmax: when k exceeds the
    // number of distinct vectors (all remaining __mind are 0 and the tie
    // break would re-pick the lowest id), the result is SHORTER, not
    // silently duplicated
    val picked = scala.collection.mutable.Set(seedRow.getLong(0))
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val cand = cur.filter(!col("vec_id").isInCollection(picked))
        .orderBy(col("__mind").desc, col("vec_id")).limit(1).collect()
      if (cand.isEmpty) exhausted = true
      else {
        val pick = cand(0)
        picked += pick.getLong(0)
        cVec = pick.getSeq[Double](1).toArray
        out += Row(r, pick.getLong(0), pick.getDouble(3))
        if (r < k) {
          val prev = cur
          cur = cur.withColumn("__mind", least(col("__mind"), dist6(cVec)))
            .localCheckpoint(true)
          prev.unpersist()
        }
      }
      r += 1
    }
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result().toIndexedSeq, 1), schema)
  }

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, tau: Double, seed: String = "semdedup",
      lloydIters: Int = 0): DataFrame = {
    val n = spread(df).select(col(idCol).as("vec_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    def normed(a: Array[Double]): Array[Double] = {
      val m = math.sqrt(a.map(x => x * x).sum)
      if (m > 0) a.map(_ / m) else a
    }
    var cents: Array[Array[Double]] = n
      .orderBy(DedupOps.md5Lower63(
        concat(lit(seed + ":"), col("vec_id").cast(StringType))))
      .limit(nClusters).select("__v").collect()
      .map(_.getSeq[Double](0).toArray)
    // cluster = argmax over rounded centroid cosines, ties to lowest index
    def assign(v: Column): Column = {
      val scored = array(cents.zipWithIndex.map { case (ct, i) =>
        struct(round(-dot(v, lit(ct)), 6).as("d"), lit(i).as("cluster"))
      }.toIndexedSeq: _*)
      element_at(array_sort(scored), 1).getField("cluster")
    }
    for (_ <- 0 until lloydIters) {
      val means = n.withColumn("cluster", assign(col("__v")))
        .select(col("cluster"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg("x").as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) =
        r.getAs[Double]("m"))
      cents = next.map(normed)
    }
    val asg = n.withColumn("cluster", assign(col("__v")))
    val a = asg.select(col("cluster"), col("vec_id").as("__ida"),
      col("__v").as("__va"))
    val b = asg.select(col("cluster"), col("vec_id").as("__idb"),
      col("__v").as("__vb"))
    val maxLower = a.join(b, a("cluster") === b("cluster") &&
        col("__ida") < col("__idb"))
      .groupBy(col("__idb").as("vec_id"))
      .agg(max(round(dot(col("__va"), col("__vb")), 6)).as("max_cos_lower"))
    asg.select(col("vec_id"), col("cluster"))
      .join(maxLower, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("max_cos_lower"),
        (coalesce(col("max_cos_lower"), lit(-2.0)) < tau).as("keep"))
  }

  /** Per-vector symmetric int8 quantization: `scale = 127 / max|v|`,
    * `qvec[i] = floor(v[i]·scale + 0.5)` as a tinyint — 4× (vs float32) /
    * 8× (vs float64) less embedding storage and shuffle volume, the
    * standard first step before ANN at corpus scale. Dequantized dot:
    * `dot(qa, qb) / (scale_a · scale_b)`, error bounded by 1/254 per
    * component. `floor(x + 0.5)`, not `round`: identical IEEE semantics in
    * every engine (Spark's round goes through decimal strings). The max is
    * computed in a PRIOR projection so the per-element lambda references a
    * plain attribute — an interpreted HOF re-evaluates its subtree per
    * element, which would make this O(dim²) otherwise. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("__v"))
      .withColumn("__mx",
        greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-12)))
      .select(col(idCol),
        (lit(127.0) / col("__mx")).as("scale"),
        transform(col("__v"),
          x => floor(x * (lit(127.0) / col("__mx")) + lit(0.5)).cast(ByteType))
          .as("qvec"))

  /** k-NN graph construction via NN-Descent (Dong, Moses & Li, WWW 2011)
    * — the graph-ANN index family (the build step behind HNSW/NSG-style
    * search and the kNN graphs UMAP consumes), complementing the
    * IVF/LSH/PQ families above. The principle: a node's neighbors'
    * neighbors are likely neighbors — start from an arbitrary graph and
    * iterate local joins, keeping each node's best k so far.
    *
    * Determinism (and hence SQL replayability, like the BPE trainer):
    *  - init is a deterministic random k-out digraph: positions 1..n by
    *    `md5Lower63("knng:" || id)` (via [[graft.operators.GlobalRank]],
    *    never an `Exchange SinglePartition`), then node at position p
    *    points at position p + 1 + md5Lower63("knns:"||p||":"||j) mod
    *    (n−1) for j = 1..k. O(n·k), and — unlike a ring, whose 2-hop
    *    neighborhoods are just more ring — the md5 offsets make each
    *    round's local join multiply candidate diversity by ~k (measured:
    *    ring init recall 0.08 after 3 rounds on the structureless test
    *    embeddings, random k-out 10× that).
    *  - reverse-neighbor sampling (the paper's ρ) keeps the `maxRev`
    *    reverse edges with the smallest `md5Lower63("knnr:"||src||":"||nbr)`
    *    per node, which bounds the local join at (k+maxRev)² candidates
    *    per node even under hub skew.
    *  - `sample > 0` additionally ρ-samples the JOIN list itself (the
    *    paper's §2.3 sampling, applied to the merged forward+reverse
    *    list): each node enters the local join with only its `sample`
    *    md5Lower63("knnu:"||round||":"||src||":"||nbr)-smallest entries,
    *    cutting per-round candidate pairs from (k+maxRev)² to sample² —
    *    the round number in the hash re-draws the sample each round, so
    *    no edge is permanently blind. Current edges always stay in the
    *    candidate set, so graph quality is monotone under sampling.
    *  - ties rank by id.
    *
    * Scale shape per round: one per-node window (reverse cap), one
    * self-equi-join on the shared endpoint (the local join), a distinct,
    * two hash joins against the (localCheckpointed) vector table, one
    * per-node top-k window — all key-partitioned shuffles, nothing
    * global, nothing quadratic in n. `iters` rounds; the paper converges
    * in a handful. Each round's frontier is localCheckpointed and the
    * previous round's checkpoint unpersisted.
    *
    * On STRUCTURELESS (uniform) vectors the descent has no gradient to
    * climb — recall is bounded by candidate coverage, like IVF/LSH above;
    * on clustered data it converges to near-exact graphs (AnnSpec pins
    * both). Returns (src, nn_id, sim, rank). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, maxRev: Int = 0, sample: Int = 0): DataFrame = {
    val (vecs, st) = ckptCompact(
      spread(df).select(col(idCol).cast(LongType).as("id"),
        normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v")))
    knnGraphOn(vecs, k, iters, maxRev, sample, knownRows = Some(st.getLong(0)))
  }

  /** [[knnGraph]] over an ALREADY normalized, materialized `(id, __v)`
    * frame — [[graphSave]] computes exactly that frame for its vectors
    * table, so the descent must not repeat the spread + normalize +
    * checkpoint pass (r16: one corpus pass saved per index build; the
    * values are identical because it is the same normalize expression over
    * the same corpus). */
  private[llm] def knnGraphOn(vecs: DataFrame, k: Int,
      iters: Int, maxRev: Int, sample: Int,
      knownRows: Option[Long] = None): DataFrame = {
    require(iters >= 1, "knnGraph needs at least one NN-Descent round")
    val spark = vecs.sparkSession
    val mrev = if (maxRev > 0) maxRev else 2 * k
    // The scoring joins are the round's data movement: without a hint,
    // each round shuffles every candidate row TWICE, the second time
    // carrying the already-joined src vector (~0.5 KB/row — measured
    // ~25 GB/round at n=200k, dim=64). The vector table is usually small
    // (n·dim·8 B), so broadcast it and keep the candidate stream map-side;
    // the BYTE-budget guard keeps large or high-dim corpora on shuffle
    // joins (maybeBroadcastVecs).
    val vSide = maybeBroadcastVecs(vecs, knownRows = knownRows)
    val ranked = graft.operators.GlobalRank.withRank(
      vecs.select(col("id"), DedupOps.md5Lower63(
        concat(lit("knng:"), col("id").cast(StringType))).as("__key")),
      "__key", "__pos", "__n").select(col("id"), col("__pos"), col("__n"))
    val offs = spark.range(1, k + 1L).select(col("id").as("__j"))
    var edges = ranked.crossJoin(broadcast(offs))
      .withColumn("__off", lit(1L) + pmod(DedupOps.md5Lower63(
        concat(lit("knns:"), col("__pos").cast(StringType), lit(":"),
          col("__j").cast(StringType))), col("__n") - 1))
      .withColumn("__tpos", ((col("__pos") - 1 + col("__off")) % col("__n")) + 1)
      .join(ranked.select(col("id").as("nbr"), col("__pos").as("__tp")),
        col("__tpos") === col("__tp"))
      .select(col("id").as("src"), col("nbr"))
      .filter(col("src") =!= col("nbr"))
      .distinct()
      .localCheckpoint()
    var result: DataFrame = null
    for (r <- 1 to iters) {
      val rev = edges.select(col("nbr").as("src"), col("src").as("nbr"))
      val wRev = Window.partitionBy(col("src")).orderBy(
        DedupOps.md5Lower63(concat(lit("knnr:"), col("src").cast(StringType),
          lit(":"), col("nbr").cast(StringType))), col("nbr"))
      val revCapped = rev.withColumn("__rrk", row_number().over(wRev))
        .filter(col("__rrk") <= mrev).drop("__rrk")
      val u =
        if (sample <= 0) edges.union(revCapped).distinct()
        else { // ρ-sample the join list, re-drawn per round via the hash.
          // Dedup fused into the sampling window (r16: the separate
          // .distinct() cost an extra Exchange per round): a (src, nbr)
          // present both forward and reversed yields two identical rows,
          // ADJACENT under orderBy(hash, nbr) since the hash is a function
          // of (r, src, nbr) — lag(nbr) == nbr marks the copy, and
          // dense_rank (tying only on those identical keys) equals
          // row_number-among-distinct-nbrs, so the sampled set is exactly
          // the one distinct() + row_number kept.
          val wU = Window.partitionBy(col("src")).orderBy(
            DedupOps.md5Lower63(concat(lit(s"knnu:$r:"),
              col("src").cast(StringType), lit(":"),
              col("nbr").cast(StringType))), col("nbr"))
          edges.union(revCapped)
            .withColumn("__urk", dense_rank().over(wU))
            .withColumn("__up", lag(col("nbr"), 1).over(wU))
            .filter(col("__urk") <= sample &&
              (col("__up").isNull || col("__up") =!= col("nbr")))
            .drop("__urk", "__up")
        }
      val u2 = u.toDF("__src2", "__nbr2")
      val cand = u.join(u2, col("nbr") === col("__src2"))
        .select(col("src"), col("__nbr2").as("cand"))
        .filter(col("src") =!= col("cand"))
        .union(edges.select(col("src"), col("nbr").as("cand")))
        .distinct()
      val scored = cand
        .join(vSide.select(col("id"), col("__v").as("__vs")),
          col("src") === col("id")).drop("id")
        .join(vSide.select(col("id"), col("__v").as("__vc")),
          col("cand") === col("id")).drop("id")
        .withColumn("sim", dot(col("__vs"), col("__vc")))
        .select(col("src"), col("cand"), col("sim"))
      val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("cand"))
      val prev = edges
      val full = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("src"), col("cand").as("nbr"), col("sim"), col("rank"))
        .localCheckpoint()
      prev.unpersist()
      result = full
      edges = full.select(col("src"), col("nbr"))
    }
    result.select(col("src"), col("nbr").as("nn_id"),
      round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Contrastive-training triplet mining: for each anchor, the best
    * POSITIVE (highest cosine at/above `posThreshold` after the
    * engine-exact 6-dp round — the near-dup band, [[embedNearDupExact]]'
    * compare) and the best HARD NEGATIVE (highest cosine strictly below
    * `negThreshold`, [[hardNegatives]]' rule). Anchors missing either
    * side yield no triplet (an anchor with no near-dup has no positive;
    * one whole band of dups has no negative) — inner-join semantics, the
    * shape a triplet-loss dataloader wants.
    *
    * Scale shape: one scored pass (anchors broadcast against the corpus,
    * like [[bruteTopK]]), then two rank-1 windows keyed by anchor. The
    * corpus is never self-joined; candidate volume is |corpus|·|anchors|
    * map-side with only per-anchor winners crossing the shuffle. */
  def tripletMine(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      posThreshold: Double, negThreshold: Double): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("cand_id"),
      normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v"))
    val q = queries.select(col(qIdCol).as("anchor_id"),
      normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("anchor_id"))
      .withColumn("sim", dot(col("__v"), col("__q")))
      .select(col("anchor_id"), col("cand_id"), col("sim"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    def best(df: DataFrame): DataFrame =
      df.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
        .drop("__r")
    val pos = best(scored.filter(round(col("sim"), 6) >= posThreshold))
      .select(col("anchor_id"), col("cand_id").as("pos_id"),
        round(col("sim"), 6).as("pos_cos"))
    val neg = best(scored.filter(col("sim") < negThreshold))
      .select(col("anchor_id"), col("cand_id").as("neg_id"),
        round(col("sim"), 6).as("neg_cos"))
    pos.join(neg, "anchor_id")
  }

  /** Graph-based ANN SEARCH over a [[knnGraph]] build — the search step
    * of the HNSW/NSG family (Malkov & Yashunin 2018), flattened for a
    * data-parallel engine: a fixed number of synchronous beam-expansion
    * rounds instead of a per-query priority queue. Start from the
    * `entries` nodes with the lowest md5 (deterministic, engine-
    * replayable), then each round expands EVERY current beam member's
    * graph neighbors, scores them against the query, and keeps the
    * top-`beam` per query; after `rounds` rounds the top-`k` of the beam
    * is the answer.
    *
    * Determinism/replay: entry pick, candidate dedup and (sim desc, id)
    * tie-breaks are all engine-exact (the dot products fold in index
    * order on both sides, the [[knnGraph]]-proven pattern), so the WHOLE
    * search replays in SQL round by round.
    *
    * 100 TB shape: per-round cost is |beam|·degree candidate rows keyed
    * by query — hash joins against the (bucketable) graph and vector
    * tables, never a scan of the full corpus per query; recall is
    * coverage-bound like IVF/LSH (see the recall twin's floor), rising
    * with `rounds`/`beam` on clustered corpora where graph search
    * shines.
    *
    * PRECONDITION — corpus-member query ids: the final ranking drops
    * rows where `id == query_id` (the bruteTopK/ivfTopK self-match
    * convention), which assumes query ids ARE corpus ids. A non-corpus
    * query whose id happens to collide with a corpus id would silently
    * lose that one legitimate neighbor — give external queries ids
    * disjoint from the corpus id space (e.g. negative). */
  def graphSearchTopK(corpus: DataFrame, idCol: String, vecCol: String,
      graph: DataFrame, queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, beam: Int = 10, rounds: Int = 2, entries: Int = 8): DataFrame = {
    val (vecs, _) = ckptCompact(
      spread(corpus).select(col(idCol).cast(LongType).as("id"),
        normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v")))
    val entry = vecs.select(col("id"), DedupOps.md5Lower63(
        concat(lit("gse:"), col("id").cast(StringType))).as("__e"))
      .orderBy(col("__e"), col("id")).limit(entries).select("id")
    val edges = graph.select(col("src"), col("nbr"))
    // same byte-budget broadcast guard as knnGraph: candidate rows stay
    // map-side instead of shuffling per-round against the vector table
    val vSide = maybeBroadcastVecs(vecs)
    beamRounds((_, _) => vSide, checkpointCand = false,
      queries, qIdCol, qVecCol, entry, (_, _) => edges, k, beam, rounds,
      entryCount = entries)
  }

  /** The synchronous beam shared by the inline [[graphSearchTopK]] and the
    * persisted [[graphServe]] — `edgesFor` maps each round's frontier
    * (query_id, id) plus that frame's layout-partition ids to the adjacency
    * rows to expand with, and `vecsFor` maps a frame of candidate ids
    * (column `id`) plus ITS partition ids to the `(id, __v)` vector rows
    * that score them (any superset of the requested ids is fine — the join
    * restricts). Both let the served path read ONLY the graph/vector
    * partitions a round touches. `checkpointCand` materializes each round's
    * candidate-id frame before scoring so the pruned reads never re-execute
    * the frontier-edges join; the inline path passes false and ignores the
    * parts. `partIdOf` (Some on the served path) maps an id column to its
    * pmod partition: the partition ids are then OBSERVED inside the very
    * job that materializes each frame (r16 — the old design ran a separate
    * distinct().collect() job per round per table, ~2 extra jobs/round; an
    * `Observation` rides along at metadata scale, ≤ nParts ints). */
  private def beamRounds(vecsFor: (DataFrame, Seq[Long]) => DataFrame,
      checkpointCand: Boolean, queries: DataFrame,
      qIdCol: String, qVecCol: String, entry: DataFrame,
      edgesFor: (DataFrame, Seq[Long]) => DataFrame,
      k: Int, beam: Int, rounds: Int,
      partIdOf: Option[Column => Column] = None,
      entryCount: Int,
      entryPartsPre: Option[Seq[Long]] = None): DataFrame = {
    require(k <= beam, "k must not exceed the beam width")
    // materialize the normalized query frame ONCE (r17): it joins into the
    // entry scoring AND every round's candidate scoring, and un-checkpointed
    // each of those re-ran the full upstream scan (the job trace showed one
    // whole-corpus scan PER ROUND feeding the q-side broadcast — rounds×
    // corpus passes at any scale). Values are unchanged: localCheckpoint
    // stores exactly the doubles the expression computes.
    val (q, _) = ckptCompact(
      queries.select(col(qIdCol).cast(LongType).as("query_id"),
        normalize(col(qVecCol).cast(ArrayType(DoubleType))).as("__q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("id"))
    // localCheckpoint + the frame's partition ids in ONE action: the
    // collect_set aggregate is computed by the checkpoint job itself
    // (bounded: values are pmod results, ≤ nParts distinct ints).
    def ckptWithParts(df: DataFrame): (DataFrame, Seq[Long]) = partIdOf match {
      case Some(p) =>
        val (ck, row) = graft.operators.Obs.checkpoint(df,
          collect_set(p(col("id"))).as("parts"))
        (ck, row.getSeq[Long](0).sorted)
      case None => (df.localCheckpoint(), Nil)
    }
    // Dedup + beam cap in ONE window pass (r16 optimization: the old
    // dropDuplicates("query_id","id") + row_number() pair cost two
    // Exchanges per round). Duplicate (query_id, id) rows are bitwise-
    // identical — sim is the same deterministic dot over the same stored
    // vector — so they are ADJACENT under orderBy(sim desc, id):
    // lag(id) == id marks every copy after the first, and dense_rank
    // (which ties only on identical (sim, id), i.e. exactly those copies)
    // equals row_number-among-distinct-ids. Kept set is provably the one
    // dropDuplicates + row_number kept; one hash partitioning replaces two.
    def dedupCap(df: DataFrame): DataFrame =
      df.withColumn("__r", dense_rank().over(w))
        .withColumn("__p", lag(col("id"), 1).over(w))
        .filter(col("__r") <= beam &&
          (col("__p").isNull || col("__p") =!= col("id")))
        .drop("__r", "__p")
    def keepBeam(df: DataFrame): (DataFrame, Seq[Long]) =
      ckptWithParts(dedupCap(df))
    // the entry frame is metadata-scale (≤ entryPool rows) — its parts come
    // precomputed from the caller (graphServe collects the entry ids once,
    // driver-side) or from one tiny collect (never an observe: the entry
    // frame is not checkpointed)
    val entryParts = entryPartsPre.getOrElse(partIdOf.map(p => entry
      .select(p(col("id")).as("__part")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted).getOrElse(Nil))
    val entryScored = q.crossJoin(broadcast(entry))
      .join(vecsFor(entry, entryParts), "id")
      .withColumn("sim", dot(col("__q"), col("__v"))).drop("__v")
    // when the entry pool fits the beam the init window is a NO-OP (each
    // query holds at most `entryCount` DISTINCT candidates, so the cap
    // filter passes every row and there is nothing to dedup) — skip its
    // Exchange+Sort outright (r16); entryCount > beam keeps the cap
    var (cur, curParts) =
      if (entryCount <= beam) ckptWithParts(entryScored)
      else keepBeam(entryScored)
    for (r <- 1 to rounds) {
      val frontier = cur.select(col("query_id"), col("id"))
      val candIds0 = frontier
        .join(edgesFor(frontier, curParts), col("id") === col("src"))
        .select(col("query_id"), col("nbr").as("id")).distinct()
      val (candIds, candParts) =
        if (checkpointCand) ckptWithParts(candIds0) else (candIds0, Nil)
      val cand = candIds
        .join(q, "query_id").join(vecsFor(candIds, candParts), "id")
        .withColumn("sim", dot(col("__q"), col("__v"))).drop("__v")
      val merged = cur.unionByName(cand)
      if (r == rounds) {
        // LAST round (r17): nothing downstream reads this frame's
        // partition set or re-expands it, so its checkpoint job bought
        // nothing — return the dedup+cap TRANSFORMATION and let the
        // caller's one action compute it together with the final ranking
        // (same window key, one Exchange; values identical). The inputs
        // it still depends on (cur, candIds) stay persisted; the session
        // cleaner reclaims them.
        cur = dedupCap(merged)
        curParts = Nil
      } else {
        val prev = cur
        val next = keepBeam(merged)
        cur = next._1
        curParts = next._2
        prev.unpersist()
        if (checkpointCand) candIds.unpersist()
      }
    }
    // corpus-member queries: drop the self-match before the final ranking
    // (matching bruteTopK/ivfTopK/ivfServe); the beam itself may traverse
    // through self — only the result excludes it
    cur.filter(col("id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("nn_id"),
        round(col("sim"), 6).as("sim"), col("rank").cast(IntegerType)
          .as("rank"))
  }

  /** Persist an NN-Descent graph index — the [[ivfSave]] pattern for the
    * graph-ANN family (r14 verdict #5: the two biggest bench poles rebuilt
    * the same graph every query, and a production deployment couldn't
    * amortize the build at all). Writes three tables under `path`:
    *   - `graph`: (src, nbr, sim, rank), parquet PARTITIONED BY
    *     `part = pmod(src, nParts)` so serving reads only the partitions a
    *     beam frontier touches (a PartitionFilter, not a full scan);
    *   - `vectors`: the L2-normalized corpus, same `pmod(id, nParts)`
    *     layout (scoring side);
    *   - `entry`: the 64 md5-lowest entry candidates (metadata-scale) —
    *     [[graphServe]] takes its `entries` prefix, so the search-time
    *     parameter survives persistence.
    * Build-once/serve-many: at 100 TB the O(n·k·iters) descent runs in one
    * job and every query pays only beam·k·rounds pruned reads on BOTH
    * tables — adjacency partitions per frontier, vector partitions per
    * candidate set ([[graphVecsForParts]]); neither leg scans the corpus. */
  def graphSave(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, k: Int, iters: Int = 2, maxRev: Int = 0,
      sample: Int = 0, nParts: Int = 0, entryPool: Int = 64): Unit = {
    // one normalization pass feeds the vectors write, the entry write AND
    // the descent ([[knnGraphOn]] — r16: knnGraph used to re-run spread +
    // normalize + checkpoint on the raw corpus, a whole extra corpus pass
    // per build; the shared frame is the same normalize expression over the
    // same corpus, so the sims the inline oracle replays are unchanged).
    // the corpus count rides the checkpoint job (ckptCompact, r17 — was a
    // separate count() job): it feeds the default layout below AND saves
    // knnGraphOn's broadcast-budget probe its own count job; the compacted
    // partitioning keeps a toy build slice from dragging 32 near-empty
    // partitions through every descent-round job
    val (vecs, st) = ckptCompact(
      spread(corpus).select(col(idCol).cast(LongType).as("id"),
        normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v")))
    val nVecs = st.getLong(0)
    // Scale-adaptive default layout (r16, guide §6: derive file layout from
    // input size, not a constant tuned for either local mode or the
    // cluster): ~128k vectors per partition ≈ 64 MB parquet at dim=64 —
    // large enough files at any corpus size, fine enough that serve-side
    // pruning still skips most of a big index (a toy corpus gets the 8-part
    // floor instead of 32 near-empty directories per table; 1e9 vectors get
    // 1024 parts ≈ 500 MB each). Explicit nParts still wins when passed;
    // serving always reads the CHOSEN value back from the meta table, so
    // the layout can never be mis-pruned.
    val np = if (nParts > 0) nParts
      else math.max(8L, math.min(1024L, nVecs / 131072L + 1L)).toInt
    vecs.select(col("id"), col("__v").as("vec"))
      .withColumn("part", pmod(col("id"), lit(np.toLong)))
      .write.mode("overwrite").partitionBy("part").parquet(s"$path/vectors")
    vecs.select(col("id"), DedupOps.md5Lower63(
        concat(lit("gse:"), col("id").cast(StringType))).as("__e"))
      .orderBy(col("__e"), col("id")).limit(entryPool)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/entry")
    knnGraphOn(vecs, k, iters, maxRev, sample, knownRows = Some(nVecs))
      .select(col("src"), col("nn_id").as("nbr"), col("sim"), col("rank"))
      .withColumn("part", pmod(col("src"), lit(np.toLong)))
      .write.mode("overwrite").partitionBy("part").parquet(s"$path/graph")
    // build facts serving MUST agree on: nParts drives partition pruning
    // (a mismatched pmod would silently prune the WRONG partitions) and
    // entryPool bounds the serve-time `entries` parameter
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((np, entryPool, k, iters, maxRev, sample))
      .toDF("nParts", "entryPool", "k", "iters", "maxRev", "sample")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    invalidateIdx(path) // the file set under `path` just changed
  }

  /** Serve top-k graph-ANN queries from a saved [[graphSave]] index.
    * Results are IDENTICAL to [[graphSearchTopK]] over the same build
    * parameters (spec-pinned): the saved vectors are the same normalize
    * expression over the same corpus, the saved entry prefix is the same
    * md5 order, and the beam is literally the same [[beamRounds]] code.
    * Each expansion round collects the ≤ `nParts` DISTINCT partition ids
    * its frontier / candidate set maps to (an aggregate of ints —
    * metadata-scale) and reads only those partitions of the graph AND of
    * the vectors table — no serve call ever scans the full corpus. */
  def graphServe(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, beam: Int = 10, rounds: Int = 2, entries: Int = 8): DataFrame = {
    // nParts comes from the index's own meta, never a caller parameter: a
    // mismatched pmod would request partitions the layout doesn't have and
    // silently drop adjacency (wrong neighbors, no error). Same for the
    // entry pool: asking for more entry points than the build persisted
    // would silently serve a different search than inline.
    // Meta row, entry pool and the two table relations come from the
    // per-(session, path) memo (r17): repeat serves pay ZERO resolution
    // jobs — the pre-memo path re-ran 4 schema jobs + meta head + entry
    // collect on every call.
    val idx = loadIdx(spark, path)
    val nParts = idx.nParts
    require(entries <= idx.entryPool,
      s"entries=$entries exceeds the ${idx.entryPool} entry candidates persisted " +
        s"by graphSave at $path — rebuild with a larger pool or lower entries")
    // the entry table is metadata-scale BY BUILD CONTRACT (≤ entryPool
    // rows): the memoized sorted pool's prefix feeds the init crossJoin
    // broadcast directly and the entry partition set is computed
    // driver-side (pmod == floorMod for a positive divisor), so serving
    // spends no Spark job on entry bookkeeping (r16).
    val entryIds = idx.entryIdsSorted.take(entries)
    import spark.implicits._
    val entry = entryIds.toDF("id")
    val entryParts =
      entryIds.map(i => java.lang.Math.floorMod(i, nParts.toLong)).distinct.sorted
    // both legs are pruned reads: each round reads only the pmod(id, nParts)
    // partitions its frontier / candidate set maps to. The partition ids
    // arrive via beamRounds' partIdOf observation — computed inside the jobs
    // that materialize each round's frames, never a separate collect pass.
    // Saved vectors are already normalized — re-normalizing would shave
    // ulps (||v|| is 1±ε after the first pass) and break served==inline.
    val edgesFor = (_: DataFrame, parts: Seq[Long]) =>
      idx.graph.filter(col("part").isin(parts: _*))
        .select(col("src"), col("nbr"))
    val vecsFor = (_: DataFrame, parts: Seq[Long]) =>
      idx.vectors.filter(col("part").isin(parts: _*))
        .select(col("id"), col("vec").as("__v"))
    beamRounds(vecsFor, checkpointCand = true,
      queries, qIdCol, qVecCol, entry, edgesFor, k, beam, rounds,
      partIdOf = Some(c => pmod(c, lit(nParts.toLong))),
      entryCount = entries, entryPartsPre = Some(entryParts))
  }

  /** Incrementally insert `newVecs` into a [[graphSave]] index WITHOUT the
    * O(n·k·iters) full rebuild (r15 verdict #5: a 100 TB corpus grows
    * daily, and +0.1% new vectors should not repay the whole descent).
    * Mirrors [[DedupOps.dedupIncremental]]'s arrival-time pattern:
    *
    *  1. each new vector BEAM-SEARCHES the existing index for its
    *     candidate neighbors ([[graphServe]]'s pruned reads — only the
    *     graph/vector partitions the beams touch are read);
    *  2. one LOCAL re-descent round over the touched neighborhoods:
    *     new↔new candidate pairs arise through shared old neighbors (the
    *     NN-Descent neighbors-of-neighbors join, restricted to the new
    *     batch), new-node adjacency = top-k of (new→old ∪ new→new);
    *  3. touched OLD nodes (those a new vector found) merge the reverse
    *     edge into their stored top-k; every other node's adjacency is
    *     untouched;
    *  4. only the graph partitions holding new or touched-old nodes are
    *     rewritten (dynamic partition overwrite on the pmod layout; the
    *     returned Seq is exactly that partition set, so callers/specs can
    *     audit the write surface). Vectors APPEND into their pmod
    *     partitions; the entry table re-selects the md5-lowest
    *     `entryPool` over (old pool ∪ new ids) — provably equal to a full
    *     rebuild's entry table, since the old pool already contains the
    *     old corpus's lowest candidates.
    *
    * The upsert is NOT atomic across the three tables (vectors → graph →
    * entry, in that order): a crash mid-upsert leaves a servable-but-stale
    * index — re-run the upsert (idempotence is guarded off: re-inserting
    * an existing id fails the collision check) or rebuild. New ids must be
    * disjoint from the corpus; this is checked against only the new ids'
    * own partitions (a pruned read, not a corpus scan). */
  def graphUpsert(spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      beam: Int = 12, rounds: Int = 3, entries: Int = 8): Seq[Long] = {
    val idx = loadIdx(spark, path)
    val nParts = idx.nParts
    val entryPool = idx.entryPool
    val k = idx.k
    // the arrival batch's partition ids ride the checkpoint job (r16: was a
    // separate distinct().collect() pass) — ≤ nParts ints, metadata-scale;
    // compacted because an incremental batch is metadata-scale next to the
    // corpus and must not drag defaultParallelism empty slices through the
    // serve + re-descent chain below
    val (nv, nvRow) = ckptCompact(
      spread(newVecs).select(col(idCol).cast(LongType).as("id"),
        normalize(col(vecCol).cast(ArrayType(DoubleType))).as("__v")),
      collect_set(pmod(col("id"), lit(nParts.toLong))).as("parts"))
    val newParts = nvRow.getSeq[Long](1).sorted
    // refuse, don't corrupt — BOTH collision classes: an id duplicated
    // WITHIN the arrival batch would append two vector rows for one id
    // (duplicate join candidates, rebuild-equality broken) just as
    // silently as one that already exists in the index
    val counts = nv.agg(count(lit(1)), count_distinct(col("id"))).head()
    require(counts.getLong(0) == counts.getLong(1),
      s"graphUpsert: the arrival batch contains duplicate ids " +
        s"(${counts.getLong(0)} rows, ${counts.getLong(1)} distinct) — " +
        "deduplicate arrivals before upserting")
    require(idx.vectors.filter(col("part").isin(newParts: _*)).select("id")
        .join(nv.select("id"), "id").limit(1).count() == 0,
      s"graphUpsert: some new ids already exist in the index at $path — " +
        "upsert only inserts; rebuild (graphSave) to replace vectors")
    // 1. beam-search the EXISTING index (new vectors are not yet in any
    // table, so they can't pollute their own candidate search). The beam
    // widens to the index's own k when needed: beamRounds requires
    // k <= beam, and k here comes from meta, not the caller.
    val newOld = graphServe(spark, path, nv, "id", "__v",
        k, math.max(beam, k), rounds, entries)
      .select(col("query_id").as("src"), col("nn_id").as("nbr"), col("sim"))
      .localCheckpoint()
    // 2. local re-descent: new↔new pairs through shared old neighbors
    val nnPairs = newOld.select(col("src"), col("nbr"))
      .join(newOld.select(col("src").as("src2"), col("nbr")), "nbr")
      .filter(col("src") < col("src2"))
      .select(col("src"), col("src2")).distinct()
    val nnScored = nnPairs
      .join(nv.select(col("id").as("src"), col("__v").as("__va")), "src")
      .join(nv.select(col("id").as("src2"), col("__v").as("__vb")), "src2")
      .withColumn("sim", round(dot(col("__va"), col("__vb")), 6))
      .select(col("src"), col("src2"), col("sim"))
    val nnBoth = nnScored.unionByName(nnScored.select(col("src2").as("src"),
      col("src").as("src2"), col("sim")))
      .select(col("src"), col("src2").as("nbr"), col("sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("nbr"))
    def topK(df: DataFrame): DataFrame =
      df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("src"), col("nbr"), col("sim"),
          col("rank").cast(IntegerType).as("rank"))
    val newAdj = topK(newOld.unionByName(nnBoth))
    // 3. touched old nodes merge the reverse edges into their stored top-k
    val revCand = newOld.select(col("nbr").as("src"), col("src").as("nbr"),
      col("sim"))
    val (touchedOld, toRow) = graft.operators.Obs.checkpoint(
      revCand.select(col("src").as("id")).distinct(),
      collect_set(pmod(col("id"), lit(nParts.toLong))).as("parts"))
    val touchedParts = (newParts ++ toRow.getSeq[Long](0)).distinct.sorted
    val oldRows = idx.graph
      .filter(col("part").isin(touchedParts: _*))
      .select(col("src"), col("nbr"), col("sim"), col("rank"))
    val touchedSrc = touchedOld.select(col("id").as("src"))
    val mergedOld = topK(oldRows.join(touchedSrc, "src")
      .select(col("src"), col("nbr"), col("sim")).unionByName(revCand)
      .dropDuplicates("src", "nbr"))
    val passThrough = oldRows.join(touchedSrc, Seq("src"), "left_anti")
    // materialized BEFORE the write: the graph output reads the very
    // partitions the dynamic overwrite replaces
    val outRows = passThrough.unionByName(newAdj).unionByName(mergedOld)
      .withColumn("part", pmod(col("src"), lit(nParts.toLong)))
      .localCheckpoint()
    // 4. writes: vectors append (new partitions only), graph dynamic
    // overwrite (touched partitions only), entry re-select (metadata-scale)
    nv.select(col("id"), col("__v").as("vec"))
      .withColumn("part", pmod(col("id"), lit(nParts.toLong)))
      .write.mode("append").partitionBy("part").parquet(s"$path/vectors")
    // per-WRITE dynamic-overwrite option, not a session-conf flip: Bench
    // runs queries concurrently on one session, and a global conf mutation
    // would race other partitioned overwrites (or be reverted mid-write)
    outRows.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(s"$path/graph")
    val entryNew = nv.select(col("id"), DedupOps.md5Lower63(
      concat(lit("gse:"), col("id").cast(StringType))).as("__e"))
    val entryMerged = spark.read.parquet(s"$path/entry")
      .unionByName(entryNew)
      .orderBy(col("__e"), col("id")).limit(entryPool).localCheckpoint()
    entryMerged.coalesce(1).write.mode("overwrite").parquet(s"$path/entry")
    invalidateIdx(path) // vectors/graph/entry under `path` all changed
    touchedParts
  }

  /** The pruned adjacency read [[graphServe]] issues each round — package-
    * visible so the spec can assert the frontier filter lands as a
    * PartitionFilter (the plan is invisible from outside: each beam round
    * localCheckpoints, so the returned DataFrame's plan starts at an RDD). */
  private[graft] def graphEdgesForParts(
      spark: org.apache.spark.sql.SparkSession, path: String,
      parts: Seq[Long]): DataFrame =
    spark.read.parquet(s"$path/graph")
      .filter(col("part").isin(parts: _*))
      .select(col("src"), col("nbr"))

  /** The pruned VECTOR read [[graphServe]] issues per scoring step — the
    * vectors twin of [[graphEdgesForParts]] (r15 advice: serving used to
    * localCheckpoint the ENTIRE saved vectors table per call, so only the
    * graph side was pruned and build-once/serve-many didn't amortize the
    * vector leg). Package-visible so the spec can assert the candidate-id
    * filter lands as a PartitionFilter. */
  private[graft] def graphVecsForParts(
      spark: org.apache.spark.sql.SparkSession, path: String,
      parts: Seq[Long]): DataFrame =
    spark.read.parquet(s"$path/vectors")
      .filter(col("part").isin(parts: _*))
      .select(col("id"), col("vec").as("__v"))
}
