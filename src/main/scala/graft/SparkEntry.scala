package graft

import graft.llm.{CorpusOps, DedupOps, PcaOps, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 (or one
  * LLM-data-pipeline operator) through the Mongo-pipeline compiler
  * ([[Pipeline]]); `oracleSql` holds the DuckDB-equivalent SQL the driver
  * hash-compares against on sf0.01.
  */
object SparkEntry {

  private def tune(s: SparkSession): Unit = {
    // Mongo-ish permissive semantics: bad casts -> null, out-of-range
    // element_at -> null (Spark 4 defaults to ANSI).
    s.conf.set("spark.sql.ansi.enabled", "false")
    // $mergeObjects: later key wins (Group.java:291-304)
    s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects — read as
    // long and convert in the loader below.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** One persisted NN-Descent index per (JVM, sfDir, slice), built lazily —
    * the graph-ANN queries SERVE from these shared builds
    * (graphSave/graphServe), so Verify and Bench pay each descent once.
    * computeIfAbsent makes concurrent Bench queries share a single build.
    * A JVM shutdown hook removes the temp trees (r15 advice: repeated
    * Verify/Bench runs were accumulating full index copies in /tmp —
    * nontrivial at sf10). */
  private val savedIdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      savedIdxDirs.values().forEach { d =>
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(Path.of(d)).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () } // best-effort: exit path
      }))
  }
  // two-phase memo like [[shared]] (r16): computeIfAbsent only inserts a
  // cheap lazy cell — running a 10-25 s index build while holding the
  // map's bin lock can serialize OTHER keys' builds that hash to the same
  // bin (independent indexes must build concurrently). The build runs
  // under the cell's own per-key lock; savedIdxDirs keeps only the
  // SUCCESSFUL paths for the shutdown hook.
  private val savedIdxCells =
    new java.util.concurrent.ConcurrentHashMap[String, LazyCell]()
  private def savedIdx(key: String)(build: String => Unit): String =
    savedIdxCells.computeIfAbsent(key, _ => new LazyCell(() => {
      val path =
        java.nio.file.Files.createTempDirectory("graft_gidx").toString
      try build(path)
      catch { case e: Throwable =>
        // a failed build never reaches savedIdxDirs, so the shutdown hook
        // would never see its half-written tree — delete it on the spot
        // (a lazy-cell retry would otherwise leak another copy)
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(Path.of(path)).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
        } catch { case _: Throwable => () }
        throw e
      }
      savedIdxDirs.put(key, path)
      path
    })).value.asInstanceOf[String]
  // sample=8: ρ-sampled NN-Descent (join list capped at 8 of the
  // k+maxRev=15 entries, re-drawn per round) — 64 instead of 225
  // candidate pairs per node per round; search recall is coverage-
  // bound by (entries + beam·k·rounds), not by build sampling, so
  // the recall twin's floor holds (measured in llm_ann_graph_recall)
  private def savedAnnGraph(s: SparkSession, dir: String): String =
    savedIdx(s"full:$dir")(path =>
      graft.llm.VectorOps.graphSave(t(s, dir, "embeddings"),
        "vec_id", "embedding", path,
        k = 5, iters = 2, maxRev = 10, sample = 8))
  /** The recall twin's index: the SAME build parameters over the FIXED
    * vec_id < 500 slice (NOT the full-corpus index above — on
    * structureless vectors recall ≈ candidates tried / n, so serving the
    * 500-query floor from a corpus-sized index would dilute recall with
    * sf; the fixed slice keeps the pinned floor scale-independent). */
  private def savedRecallGraph(s: SparkSession, dir: String): String =
    savedIdx(s"recall500:$dir")(path =>
      graft.llm.VectorOps.graphSave(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        "vec_id", "embedding", path,
        // nParts=8 on the FIXED 500-doc slice: 32 dirs per table is all
        // file-creation overhead at this size (the cold build cost shows
        // up in every fresh bench JVM); the full-corpus index above keeps
        // the production layout
        k = 5, iters = 2, maxRev = 10, sample = 8, nParts = 8))
  /** The incremental-maintenance index (r15 verdict #5): built on a FIXED
    * 400-doc slice, then GROWN by graphUpsert with the vec_id < 100
    * arrivals — llm_ann_graph_upsert serves from the result, so the
    * grow-don't-rebuild path is driver-covered end to end. Fixed slices
    * keep the pinned floors scale-independent (see savedRecallGraph). */
  private def savedUpsertGraph(s: SparkSession, dir: String): String =
    savedIdx(s"upsert:$dir")(path => {
      val emb = t(s, dir, "embeddings")
      graft.llm.VectorOps.graphSave(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 500),
        "vec_id", "embedding", path,
        k = 5, iters = 2, maxRev = 10, sample = 8, nParts = 8)
      graft.llm.VectorOps.graphUpsert(s, path,
        emb.filter(col("vec_id") < 100), "vec_id", "embedding")
      ()
    })

  // Resolved-table memo (r17): every spark.read.parquet schedules a
  // 1-task schema-inference job, and the bench's 216 queries re-resolved
  // their input tables on every call — ~300 serialized driver-side jobs
  // of pure fixed cost per run (the per-job floor is 0.05-0.3 s on this
  // harness). A real deployment reads tables through a catalog, which
  // resolves once; this memo is that catalog. Plan-level only — no data
  // is cached, every action still scans the parquet. Entries are bounded:
  // the map is cleared past 512 keys (tests churn short-lived sessions;
  // re-resolving is the pre-memo behavior, never wrong).
  private val tableCells =
    new java.util.concurrent.ConcurrentHashMap[String, LazyCell]()
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    tune(s)
    if (tableCells.size > 512) tableCells.clear()
    tableCells.computeIfAbsent(
      s"${sessionToken(s)}:$dir:$name",
      _ => new LazyCell(() => loadTable(s, dir, name)))
      .value.asInstanceOf[DataFrame]
  }
  private def loadTable(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events")
      // testdata generations differ: ts has shipped as TIMESTAMP(NANOS)
      // (read as long via nanosAsLong) and as timestamp[us] (read as NTZ).
      // Normalize both to TimestampType; session tz is UTC, so the NTZ cast
      // preserves the instant. `div` = exact integer division: epoch NANOS
      // (~1.7e18) exceed double precision, so `/ 1000.0` would be off by up
      // to ~256 ns — visible as off-by-one milliseconds after truncation.
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    else df
  }

  /** Shared-BUILD memo — the [[savedIdx]] precedent generalized (r16):
    * several queries exercise the SAME deterministic training pass (the
    * 6-merge BPE vocabulary four times, the unigram piece table four
    * times, the NB model four times, the logreg fit twice) before
    * diverging into their own scoring/eval. Training once per (session,
    * sfDir) and sharing the result changes NO query's output — each
    * memoized value is exactly what every caller recomputed, and each
    * query's own scoring/eval still runs per query (and its oracle still
    * replays training end to end in SQL). DataFrame-valued entries are
    * keyed by session identity: plans are session-bound. */
  private final class LazyCell(thunk: () => AnyRef) {
    lazy val value: AnyRef = thunk()
  }
  private val sharedBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, LazyCell]()
  // two-phase memo: computeIfAbsent only INSERTS a cheap lazy cell (never
  // runs the multi-second build while holding the map's bin lock — a
  // long-running compute inside computeIfAbsent serializes every other
  // memo whose key hashes to the same bin, and a build that itself calls
  // shared() would be a recursive map update); the build then runs under
  // the cell's own per-key lazy-val lock.
  // keyed by sessionUUID, not identityHashCode (ADVICE r16): identity
  // hashes are not unique — two live sessions (or a new session reusing a
  // GC'd address) could be served another session's session-bound plans.
  // Bounded like tableCells: cleared past 256 entries so churned test
  // sessions don't pin collected model arrays for the JVM lifetime.
  private def shared[T <: AnyRef](s: SparkSession, dir: String, tag: String)(
      build: => T): T = {
    if (sharedBuilds.size > 256) sharedBuilds.clear()
    sharedBuilds.computeIfAbsent(
      s"$tag:${sessionToken(s)}:$dir",
      _ => new LazyCell(() => build)).value.asInstanceOf[T]
  }

  /** Guaranteed-unique per-session memo key (ADVICE r16):
    * System.identityHashCode can collide across live sessions or recycle a
    * GC'd session's address, serving another session's session-bound plans.
    * A weak map (SparkSession does not override equals, so keys compare by
    * identity) issues one UUID per live session and lets a closed session's
    * token be collected with it. */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def sessionToken(s: SparkSession): String =
    sessionTokens.computeIfAbsent(s,
      _ => java.util.UUID.randomUUID().toString)

  /** Shared setup of the NB-classifier eval queries (llm_nb_pr/_auc/
    * _calibration): train on doc_id%3==0 (label = lang=='en'), score the
    * whole corpus, keep the HELD-OUT doc_id%3==1 slice with its true
    * label joined back on. Memoized: the NB count-model collect runs once
    * per (session, sfDir), not once per eval query. */
  private def nbHeldOutScored(s: SparkSession, dir: String): DataFrame =
    shared(s, dir, "nbheld") { nbHeldOutScoredBuild(s, dir) }
  private def nbHeldOutScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labeled = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("__lab", col("lang") === "en")
    graft.llm.CorpusOps
      .nbTrainScore(docs, labeled, "doc_id", "text", "__lab", buckets = 64)
      .filter(col("doc_id") % 3 === 1)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("__y")),
        "doc_id")
  }

  /** Shared bits of the logistic-regression queries: quality feature
    * vector over documents, (lang='en') label, doc_id%3 train slice, and
    * the 3-round lr=1.0 full-batch GD fit. */
  private val logRegX =
    Seq("x_bias", "x_len", "x_punct", "x_upper", "x_digit", "x_sw")
  private def logRegBits(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Array[Double]) =
    shared(s, dir, "logreg") {
      val docs = graft.llm.CorpusOps.logRegFeatures(t(s, dir, "documents"), "text")
        .withColumn("__y", col("lang") === "en")
      val (roundsDf, w) = graft.llm.CorpusOps.logRegFit(
        docs.filter(col("doc_id") % 3 === 0), logRegX, "__y",
        rounds = 3, lr = 1.0)
      (docs, roundsDf, w)
    }

  /** Run a Mongo pipeline against a table, with all sf tables as $lookup catalog. */
  private def pipe(s: SparkSession, dir: String, table: String, json: String): DataFrame = {
    tune(s)
    new Pipeline(name => t(s, dir, name)).run(t(s, dir, table), json)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * $match → $lookup(unwind) → $group → $project end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    pipe(spark, "/root/testdata/sf0.001", "orders",
      """[
        {"$match": {"o_orderstatus": {"$in": ["F", "O"]}}},
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "cust", "unwind": true}},
        {"$group": {"_id": "$cust.c_mktsegment",
                    "n": {"$count": {}},
                    "total": {"$sum": "$o_totalprice"}}},
        {"$project": {"_id": 1, "n": 1, "total": {"$round": ["$total", 2]}}}
      ]""")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- $match (query language) ------------------------------------------
    "q_match" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$match": {"l_returnflag": "A", "l_quantity": {"$gte": 30}}},
        {"$project": {"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 1}}
      ]""")),
    "q_match_expr" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$match": {"$expr": {"$gt": ["$l_extendedprice",
                                      {"$multiply": [1500, "$l_quantity"]}]}}},
        {"$project": {"l_orderkey": 1, "l_linenumber": 1}}
      ]""")),
    "q_match_ops" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$match": {"$and": [
          {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}},
          {"o_totalprice": {"$gt": 50000, "$lte": 200000}},
          {"o_orderstatus": {"$ne": "P"}},
          {"o_custkey": {"$exists": true}}]}},
        {"$match": {"$nor": [{"o_orderpriority": "3-MEDIUM"},
                             {"o_totalprice": {"$gt": 150000}}],
                    "$comment": "operator-manifest pin: $nor + $comment"}},
        {"$project": {"o_orderkey": 1, "o_custkey": 1}}
      ]""")),
    "q_match_regex" -> ((s, dir) => pipe(s, dir, "part",
      """[
        {"$match": {"p_type": {"$regex": "^STANDARD.*BRASS$"}}},
        {"$project": {"p_partkey": 1, "p_type": 1}}
      ]""")),

    // ---- $project ---------------------------------------------------------
    "q_project" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$project": {"l_orderkey": 1, "l_linenumber": 1,
          "revenue": {"$round": [{"$multiply": ["$l_extendedprice",
                                  {"$subtract": [1, "$l_discount"]}]}, 4]}}}
      ]""")),
    "q_project_exclude" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$project": {"o_orderdate": 0, "o_orderpriority": 0}}]""")),

    // ---- $addFields / $set ------------------------------------------------
    "q_addfields" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$addFields": {
          "revenue": {"$round": [{"$multiply": ["$l_extendedprice",
                                  {"$subtract": [1, "$l_discount"]}]}, 4]},
          "ship_year": {"$year": "$l_shipdate"}}},
        {"$project": {"l_orderkey": 1, "l_linenumber": 1,
                      "revenue": 1, "ship_year": 1}}
      ]""")),
    "q_addfields_nested" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$addFields": {"meta.status": "$o_orderstatus",
                        "meta.price.total": "$o_totalprice"}},
        {"$project": {"o_orderkey": 1, "st": "$meta.status",
                      "tot": "$meta.price.total"}}
      ]""")),

    // ---- $unset -----------------------------------------------------------
    "q_unset" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$unset": ["o_orderdate", "o_orderpriority"]}]""")),

    // ---- $replaceWith / $replaceRoot --------------------------------------
    "q_replace_with" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$replaceWith": {"id": "$o_orderkey", "status": "$o_orderstatus",
                          "total": {"$round": ["$o_totalprice", 0]}}}
      ]""")),
    "q_replace_root" -> ((s, dir) => pipe(s, dir, "customer",
      """[
        {"$replaceRoot": {"newRoot": {"ck": "$c_custkey",
                                      "seg": {"$toLower": "$c_mktsegment"}}}}
      ]""")),

    // ---- $setKey ----------------------------------------------------------
    "q_setkey" -> ((s, dir) => pipe(s, dir, "events",
      """[
        {"$project": {"event_id": 1, "user_id": 1}},
        {"$setKey": "$user_id"}
      ]""")),
    // object-valued key: both engines render compact JSON (r8 verdict —
    // Spark's struct cast "{13, error}" must not leak into the key)
    "q_setkey_obj" -> ((s, dir) => pipe(s, dir, "events",
      """[
        {"$project": {"event_id": 1, "user_id": 1, "event_type": 1}},
        {"$setKey": {"u": "$user_id", "e": "$event_type"}}
      ]""")),

    // ---- $unwind ----------------------------------------------------------
    "q_unwind" -> ((s, dir) => pipe(s, dir, "documents",
      """[
        {"$project": {"doc_id": 1, "toks": {"$split": ["$text", " "]}}},
        {"$unwind": {"path": "$toks", "includeArrayIndex": "idx"}}
      ]""")),

    // ---- $group family ----------------------------------------------------
    "q_group" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$group": {"_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"},
                    "sum_qty": {"$sum": "$l_quantity"},
                    "avg_price": {"$avg": "$l_extendedprice"},
                    "n": {"$count": {}}}},
        {"$project": {"_id": 0, "rf": "$_id.rf", "ls": "$_id.ls",
                      "sum_qty": 1, "avg_price": {"$round": ["$avg_price", 4]},
                      "n": 1}}
      ]""")),
    // the global sum runs over INTEGER CENTS: a double fold over 15M+
    // 2-decimal prices diverges from DuckDB in the last rounded digit at
    // the 100x replica (sum ~3.75e12, addition-order error ~0.1 — sf10
    // sweep find, r13), while integer-valued doubles to 100x this total
    // stay exactly representable (< 2^53), making the sum order-free in
    // both engines
    "q_group_global" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$group": {"_id": null,
                    "total": {"$sum": {"$round":
                      [{"$multiply": ["$o_totalprice", 100]}, 0]}},
                    "n": {"$count": {}}}},
        {"$project": {"_id": 1,
                      "total": {"$round":
                        [{"$divide": ["$total", 100]}, 2]}, "n": 1}}
      ]""")),
    "q_group_minmax" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$group": {"_id": "$o_orderstatus",
                    "max_total": {"$max": "$o_totalprice"},
                    "min_total": {"$min": "$o_totalprice"}}}
      ]""")),
    "q_group_stddev" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$group": {"_id": "$l_returnflag", "sd": {"$stdDevPop": "$l_quantity"}}},
        {"$project": {"_id": 1, "sd": {"$round": ["$sd", 6]}}}
      ]""")),
    "q_group_addtoset" -> ((s, dir) => pipe(s, dir, "nation",
      """[
        {"$group": {"_id": "$n_regionkey", "names": {"$addToSet": "$n_name"}}},
        {"$project": {"_id": 1, "names_str": {"$reduce": {
          "input": "$names", "initialValue": "",
          "in": {"$concat": ["$$value", ",", "$$this"]}}}}}
      ]""")),
    // $push gathers in arrival order; the test projects a SORTED join so the
    // output is oracle-checkable (and scalar — the driver's compare cannot
    // sort raw array columns)
    "q_group_push" -> ((s, dir) => pipe(s, dir, "nation",
      """[{"$group": {"_id": "$n_regionkey", "names": {"$push": "$n_name"}}},
          {"$project": {"_id": 1, "names_str": {"$reduce": {
            "input": {"$sortArray": {"input": "$names", "sortBy": 1}},
            "initialValue": "",
            "in": {"$concat": ["$$value", ",", "$$this"]}}}}}]""")),
    // $last = arrival order; pin it by feeding a single sorted partition so
    // the oracle (arg_max by nationkey) is exact
    "q_group_last" -> ((s, dir) => {
      tune(s)
      new Pipeline().run(
        t(s, dir, "nation").orderBy("n_nationkey").coalesce(1),
        """[{"$group": {"_id": "$n_regionkey", "last_name": {"$last": "$n_name"}}}]""")
    }),

    "q_group_mergeobjects" -> ((s, dir) => {
      tune(s)
      val ev = t(s, dir, "events")
        .withColumn("props_map",
          from_json(col("props"), "map<string,string>", Map.empty[String, String]))
      new Pipeline().run(ev,
        """[{"$group": {"_id": "$user_id",
                        "merged": {"$mergeObjects": "$props_map"}}}]""")
        .select(col("_id"), size(map_keys(col("merged"))).as("n_keys"))
    }),

    // ---- $bucket / $count -------------------------------------------------
    "q_bucket" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$bucket": {"groupBy": "$l_quantity",
                     "boundaries": [1, 10, 25, 40, 51],
                     "output": {"n": {"$sum": 1}}}}
      ]""")),
    "q_count" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$match": {"o_orderstatus": "F"}}, {"$count": "n_f"}]""")),

    // ---- $lookup ----------------------------------------------------------
    "q_lookup_unwind" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "cust", "unwind": true}},
        {"$project": {"o_orderkey": 1, "cname": "$cust.c_name",
                      "cseg": "$cust.c_mktsegment"}}
      ]""")),
    "q_lookup_agg" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "cust"}},
        {"$project": {"o_orderkey": 1, "n_cust": {"$size": "$cust"}}}
      ]""")),
    // full sub-pipeline: uncorrelated prefix runs once against `from`,
    // correlated $match joins, trailing $sort/$limit/$project act per
    // message on the matched array (per-order top-2 lineitems)
    "q_lookup_pipeline" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$match": {"o_orderkey": {"$lt": 200}}},
        {"$lookup": {"from": "lineitem", "let": {"ok": "$o_orderkey"},
          "pipeline": [
            {"$match": {"l_returnflag": "N"}},
            {"$match": {"$expr": {"$eq": ["$l_orderkey", "$$ok"]}}},
            {"$sort": {"l_quantity": -1, "l_linenumber": 1}},
            {"$limit": 2},
            {"$project": {"l_linenumber": 1, "l_quantity": 1}}],
          "as": "top"}},
        {"$unwind": "$top"},
        {"$project": {"o_orderkey": 1,
                      "ln": "$top.l_linenumber", "qty": "$top.l_quantity"}}
      ]""")),
    // remote connectionString/database $lookup (Lookup.java:74-78): the
    // DEFAULT catalog refuses, so the rows prove the second-store path
    // executed end-to-end (here the "remote database" is the same sfDir
    // behind a remoteCatalog resolver — in production the None default is
    // a connector-native MongoStore per (uri, database))
    "q_lookup_remote" -> ((s, dir) => {
      tune(s)
      val p = new Pipeline(
        catalog = n => throw new IllegalArgumentException(
          s"local catalog must not serve a remote lookup: $n"),
        remoteCatalog = Some((uri, db, coll) => {
          require(uri == "mongodb://dims-host:27017" && db == "dims",
            s"unexpected remote target: $uri/$db")
          t(s, dir, coll)
        }))
      p.run(t(s, dir, "supplier"),
        """[
          {"$lookup": {"from": "nation",
            "connectionString": "mongodb://dims-host:27017",
            "database": "dims", "localField": "s_nationkey",
            "foreignField": "n_nationkey", "as": "n", "unwind": true}},
          {"$addFields": {"nation": "$n.n_name"}},
          {"$project": {"s_suppkey": 1, "s_name": 1, "nation": 1}}
        ]""")
    }),

    "q_lookup_theta" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$match": {"o_orderkey": {"$lt": 50}}},
        {"$lookup": {"from": "customer", "let": {"t": "$o_totalprice"},
          "pipeline": [{"$match": {"$expr": {"$and": [
            {"$gte": ["$c_acctbal", {"$subtract": [{"$divide": ["$$t", 100]}, 50]}]},
            {"$lte": ["$c_acctbal", {"$divide": ["$$t", 100]}]}]}}}],
          "as": "near"}},
        {"$project": {"o_orderkey": 1, "n_near": {"$size": "$near"}}}
      ]""")),

    "q_lookup_range" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$lookup": {"from": "customer", "let": {"t": "$o_totalprice"},
          "pipeline": [{"$match": {"$expr": {"$and": [
            {"$gte": ["$c_acctbal", {"$subtract": [{"$divide": ["$$t", 100]}, 50]}]},
            {"$lte": ["$c_acctbal", {"$divide": ["$$t", 100]}]}]}}}],
          "_rangeJoin": {"field": "c_acctbal", "width": 50,
            "lo": {"$subtract": [{"$divide": ["$o_totalprice", 100]}, 50]},
            "hi": {"$divide": ["$o_totalprice", 100]}},
          "as": "near"}},
        {"$project": {"o_orderkey": 1, "n_near": {"$size": "$near"}}}
      ]""")),

    // ---- $jslt / $jq (columnar script compile, ScriptStages) --------------
    "q_jslt" -> ((s, dir) => pipe(s, dir, "customer",
      """[{"$jslt": "{\"cust\": uppercase(.c_name), \"seg\": lowercase(.c_mktsegment), \"bal2\": .c_acctbal * 2, \"cls\": if (.c_acctbal > 0) \"pos\" else \"neg\", \"key_\": .c_custkey, *: .}"}]""")),
    "q_jq" -> ((s, dir) => pipe(s, dir, "part",
      """[{"$jq": "select(.p_size > 25) | {part: .p_name, double_size: (.p_size * 2), brand: (.p_brand | ascii_downcase), pk: .p_partkey}"}]""")),

    // ---- $redact ----------------------------------------------------------
    "q_redact" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$addFields": {"meta.status": "$o_orderstatus",
                        "meta.secret.total": "$o_totalprice"}},
        {"$redact": {"$cond": [
          {"$lte": [{"$ifNull": ["$total", 0]}, 150000]},
          "$$DESCEND", "$$PRUNE"]}},
        {"$project": {"o_orderkey": 1, "s_total": "$meta.secret.total"}}
      ]""")),

    // ---- $deduplicate -----------------------------------------------------
    "q_dedup" -> ((s, dir) => pipe(s, dir, "events",
      """[
        {"$project": {"user_id": 1}},
        {"$deduplicate": {"expression": "$user_id"}}
      ]""")),

    // ---- sinks: $merge / $out / $delete / $send / $per / $throttle --------
    "q_merge" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_merge").toString)
      val ordersNoDate = t(s, dir, "orders").drop("o_orderdate")
      store.seed("tgt", ordersNoDate.filter(col("o_orderkey") < 3000)
        .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2)),
        on = List("o_orderkey"))
      new Pipeline(store = store).run(ordersNoDate,
        """[{"$merge": {"into": "tgt", "on": "o_orderkey",
                        "whenMatched": "keepExisting",
                        "whenNotMatched": "insert"}}]""")
        .count() // drive the upsert
      store.read("tgt")
    }),
    // Mongo 4.4 whenMatched UPDATE PIPELINE: matched rows accumulate the
    // incoming price into the stored total via $$new and stamp an update
    // counter; unmatched rows insert untouched
    "q_merge_pipeline" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_merge_pipe").toString)
      val ordersNoDate = t(s, dir, "orders").drop("o_orderdate")
      store.seed("tgt", ordersNoDate.filter(col("o_orderkey") % 3 === 0),
        on = List("o_orderkey"))
      new Pipeline(store = store).run(ordersNoDate,
        """[{"$merge": {"into": "tgt", "on": "o_orderkey",
              "whenMatched": [
                {"$set": {"o_totalprice":
                    {"$round": [{"$add": ["$o_totalprice",
                                          "$$new.o_totalprice"]}, 2]},
                  "n_updates": {"$add": [{"$ifNull": ["$n_updates", 0]}, 1]}}},
                {"$unset": "o_orderpriority"}],
              "whenNotMatched": "insert"}}]""")
        .count() // drive the upsert
      store.read("tgt")
    }),
    // the 100 TB shape: a SMALL batch against a LARGE collection rewrites
    // only the buckets it touches (BucketedParquetStore manifest)
    "q_merge_incr" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_merge_incr").toString)
      val ordersNoDate = t(s, dir, "orders").drop("o_orderdate")
      store.seed("tgt", ordersNoDate, on = List("o_orderkey"))
      val batch = ordersNoDate.filter(col("o_orderkey") % 1000 === 0)
        .withColumn("o_totalprice", round(col("o_totalprice") * 3, 2))
      new Pipeline(store = store).run(batch,
        """[{"$merge": {"into": "tgt", "on": "o_orderkey",
                        "whenMatched": "replace",
                        "whenNotMatched": "insert"}}]""").count()
      store.read("tgt")
    }),
    "q_out" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_out").toString)
      val ordersNoDate = t(s, dir, "orders").drop("o_orderdate")
        .withColumn("_id", col("o_orderkey").cast("string"))
      store.seed("tgt", ordersNoDate.filter(col("o_orderkey") < 3000)
        .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2)),
        on = List("_id"))
      new Pipeline(store = store).run(ordersNoDate,
        """[{"$out": {"into": "tgt"}}]""").count()
      store.read("tgt") // replace-upsert: every seeded row overwritten
    }),
    "q_delete" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_delete").toString)
      store.seed("tgt", t(s, dir, "orders").drop("o_orderdate"),
        on = List("o_orderkey"))
      new Pipeline(store = store).run(
        t(s, dir, "orders").filter(col("o_totalprice") > 200000)
          .select("o_orderkey"),
        """[{"$delete": {"from": "tgt", "on": "o_orderkey"}}]""").count()
      store.read("tgt")
    }),
    "q_send" -> ((s, dir) => {
      tune(s)
      var captured: DataFrame = null
      new Pipeline(producer = df => captured = df)
        .run(t(s, dir, "events").select("event_id", "event_type"),
          """[{"$send": {"topic": "$event_type"}}]""").count()
      captured
    }),
    // $delay retry-topic loop: schedule with an event-time clock, then
    // redeliver what is due at a frozen cutoff — fully deterministic
    "q_delay" -> ((s, dir) => {
      tune(s)
      val store = new graft.sources.ParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_delay").toString)
      new Pipeline(store = store, producer = _ => ())
        .run(t(s, dir, "events").select("event_id", "user_id", "ts"),
          """[{"$delay": {
                "duration": {"$multiply": [{"$add": [{"$mod": ["$event_id", 5]}, 1]},
                                           3600000]},
                "topic": "retry", "_clock": "$ts"}}]""").count()
      SinkStages.redeliverDue(store, "retry",
        lit("2024-01-15 00:00:00").cast("timestamp"))
        .select("event_id", "user_id")
    }),
    // $probe per-minute rollover counts on an event-time clock
    "q_probe" -> ((s, dir) => {
      tune(s)
      var captured: DataFrame = null
      new Pipeline(producer = df => captured = df)
        .run(t(s, dir, "events"),
          """[{"$probe": {"name": "ev", "topic": "metrics", "_clock": "$ts"}}]""")
        .count()
      // minute as a formatted string: raw timestamp columns diverge in
      // parquet/pandas dtype between Spark and the DuckDB oracle
      captured.select(col("name"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm").as("minute"), col("count"))
    }),
    // $per batches per partition; a single input partition makes the batch
    // sizes exact (N/amount full batches) and therefore oracle-checkable
    "q_per" -> ((s, dir) => {
      tune(s)
      new Pipeline().run(
        t(s, dir, "events").select("event_id").coalesce(1),
        """[{"$per": {"amount": 50, "as": "batch"}},
            {"$project": {"n": {"$size": "$batch"}}}]""")
    }),
    "q_throttle" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$throttle": {"maxPerSecond": 1000000}},
          {"$project": {"event_id": 1, "user_id": 1}}]""")),
    "q_trace" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$trace": {}}, {"$backTrace": {}}, {"$project": {"o_orderkey": 1}}]""")),
    // LIVE $http round-trip against the in-JVM deterministic echo endpoint:
    // every response field is a pure function of the request row, so DuckDB
    // recomputes the whole exchange (EchoHttp's contract)
    "q_http" -> ((s, dir) => {
      val port = graft.operators.EchoHttp.port
      pipe(s, dir, "nation",
        s"""[
          {"$$project": {"n_nationkey": 1, "n_name": 1}},
          {"$$http": {"url": "http://127.0.0.1:$port/calc", "method": "POST",
            "body": {"key": "$$n_nationkey", "name": "$$n_name"},
            "as": "resp",
            "responseSchema": "STRUCT<key: BIGINT, upper: STRING, rev: STRING, len: INT>",
            "retries": 2}},
          {"$$project": {"n_nationkey": 1, "key2": "$$resp.key",
            "up": "$$resp.upper", "rv": "$$resp.rev", "ln": "$$resp.len"}}
        ]""")
    }),

    // ---- expression-language coverage -------------------------------------
    "q_expr_strings" -> ((s, dir) => pipe(s, dir, "part",
      """[
        {"$project": {"p_partkey": 1,
          "up": {"$toUpper": "$p_name"},
          "low": {"$toLower": "$p_brand"},
          "sub": {"$substrCP": ["$p_type", 0, 5]},
          "len": {"$strLenCP": "$p_name"},
          "idx": {"$indexOfCP": ["$p_type", "BRASS"]},
          "repl": {"$replaceAll": {"input": "$p_brand", "find": "#",
                                   "replacement": "-"}},
          "cat": {"$concat": ["$p_brand", "/", "$p_type"]}}}
      ]""")),
    // byte-indexed string ops over `p_brand || 'é' || p_type`: the ASCII
    // segments sit at known BYTE offsets around a 2-byte UTF-8 char, so
    // every byte-op result is recomputable in ANSI SQL (DuckDB strlen =
    // byte length). $substr is the deprecated byte-indexed alias
    // (negative count = rest of string).
    "q_expr_bytes" -> ((s, dir) => pipe(s, dir, "part",
      """[
        {"$addFields": {"cat": {"$concat": ["$p_brand", "é", "$p_type"]}}},
        {"$project": {"p_partkey": 1,
          "blen": {"$strLenBytes": "$cat"},
          "sub_brand": {"$substrBytes": ["$cat", 0, {"$strLenBytes": "$p_brand"}]},
          "sub_acc": {"$substrBytes": ["$cat", {"$strLenBytes": "$p_brand"}, 2]},
          "sub_type": {"$substr": ["$cat",
            {"$add": [{"$strLenBytes": "$p_brand"}, 2]}, -1]},
          "idx_acc": {"$indexOfBytes": ["$cat", "é"]},
          "idx_win": {"$indexOfBytes": ["$p_type", "A", 2, 4]}}}
      ]""")),
    // $bsonSize/$binarySize: the BSON byte size of a nested document is
    // linear arithmetic over the field-name lengths + string byte lengths
    // (ints size as int64=8), so DuckDB recomputes it exactly from strlen
    "q_expr_bsonsize" -> ((s, dir) => pipe(s, dir, "part",
      """[
        {"$project": {"p_partkey": 1,
          "bsz": {"$bsonSize": {"k": "$p_partkey", "n": "$p_name",
                                "sub": {"t": "$p_type"}}},
          "bin": {"$binarySize": "$p_name"}}}
      ]""")),
    "q_expr_cond" -> ((s, dir) => pipe(s, dir, "orders",
      """[
        {"$project": {"o_orderkey": 1,
          "prio_class": {"$switch": {"branches": [
            {"case": {"$eq": ["$o_orderpriority", "1-URGENT"]}, "then": "hot"},
            {"case": {"$eq": ["$o_orderpriority", "2-HIGH"]}, "then": "warm"}],
            "default": "cold"}},
          "flag": {"$cond": [{"$gte": ["$o_totalprice", 100000]}, "big", "small"]},
          "fb": {"$ifNull": ["$o_orderstatus", "?"]}}}
      ]""")),
    "q_expr_mathext" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$match": {"l_orderkey": {"$lt": 1000}}},
        {"$project": {"l_orderkey": 1, "l_linenumber": 1,
          "rs": {"$round": [{"$sin": "$l_quantity"}, 6]},
          "rc": {"$round": [{"$cos": "$l_quantity"}, 6]},
          "ra": {"$round": [{"$atan2": ["$l_quantity", 10]}, 6]},
          "rad": {"$round": [{"$degreesToRadians": "$l_quantity"}, 6]},
          "rac": {"$round": [{"$acos": {"$divide": ["$l_linenumber", 10]}}, 6]},
          "rl10": {"$round": [{"$log10": "$l_quantity"}, 6]},
          "range_sum": {"$sum": {"$range": [0, "$l_linenumber"]}},
          "range_avg": {"$avg": {"$range": [0, "$l_linenumber"]}},
          "range_max": {"$max": {"$range": [0, "$l_linenumber"]}}}}
      ]""")),
    // Mongo 7.0 $median/$percentile EXPRESSION forms (over an array input,
    // distinct from the accumulator forms of q_group_median): exact linear
    // interpolation, replayed by DuckDB's quantile_cont
    "q_expr_percentile" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$group": {"_id": "$l_orderkey", "qs": {"$push": "$l_quantity"}}},
        {"$set": {
          "med": {"$round": [{"$median": {"input": "$qs", "method": "approximate"}}, 6]},
          "p25": {"$round": [{"$arrayElemAt": [{"$percentile":
            {"input": "$qs", "p": [0.25, 0.9], "method": "approximate"}}, 0]}, 6]},
          "p90": {"$round": [{"$arrayElemAt": [{"$percentile":
            {"input": "$qs", "p": [0.25, 0.9], "method": "approximate"}}, 1]}, 6]}}},
        {"$unset": "qs"}
      ]""")),
    "q_expr_arith" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[
        {"$project": {"l_orderkey": 1, "l_linenumber": 1,
          "a": {"$round": [{"$multiply": ["$l_extendedprice", "$l_discount"]}, 4]},
          "b": {"$mod": ["$l_linenumber", 3]},
          "c": {"$abs": {"$subtract": ["$l_quantity", 25]}},
          "d": {"$floor": {"$divide": ["$l_extendedprice", 100]}},
          "e": {"$ceil": {"$sqrt": "$l_quantity"}},
          "f": {"$trunc": [{"$ln": {"$add": ["$l_quantity", 1]}}, 2]}}}
      ]""")),
    "q_expr_dates" -> ((s, dir) => pipe(s, dir, "events",
      """[
        {"$project": {"event_id": 1,
          "y": {"$year": "$ts"}, "m": {"$month": "$ts"},
          "d": {"$dayOfMonth": "$ts"}, "h": {"$hour": "$ts"},
          "ds": {"$dateToString": {"format": "%Y-%m-%d", "date": "$ts"}}}}
      ]""")),
    "q_expr_arrays" -> ((s, dir) => pipe(s, dir, "documents",
      """[
        {"$addFields": {"toks": {"$split": ["$text", " "]}}},
        {"$project": {"doc_id": 1,
          "n_long": {"$size": {"$filter": {"input": "$toks", "as": "t",
                     "cond": {"$gt": [{"$strLenCP": "$$t"}, 5]}}}},
          "lens_sum": {"$reduce": {"input": {"$map": {"input": "$toks", "as": "t",
                       "in": {"$strLenCP": "$$t"}}},
                       "initialValue": 0, "in": {"$add": ["$$value", "$$this"]}}},
          "first_tok": {"$first": "$toks"},
          "rev_first": {"$arrayElemAt": [{"$reverseArray": "$toks"}, 0]}}}
      ]""")),

    // ---- DYNAMIC (schemaless) pipeline mode -------------------------------
    // Documents carried as one JSON string column; heterogeneously-typed
    // fields and deep merges the typed engine cannot represent.
    "q_dynamic_addfields" -> ((s, dir) => {
      val docs = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"),
        col("o_totalprice").as("price"),
        struct(col("o_orderstatus").as("status")).as("meta"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$addFields": {
              "meta.flag": {"$cond": [{"$gt": ["$price", 150000]}, "high", 0]},
              "meta.k": {"$concat": ["$meta.status", "!"]},
              "extra.a.b": {"$add": ["$_id", 1]}}},
            {"$unset": "price"}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.meta.flag").as("flag"),
        get_json_object(col("doc"), "$.meta.k").as("k"),
        get_json_object(col("doc"), "$.extra.a.b").cast("long").as("ab"))
    }),
    "q_dynamic_replacewith" -> ((s, dir) => {
      // sub is an OBJECT for even order keys, a scalar otherwise: the
      // non-object result leaves the message unchanged (ReplaceWith.java:33-36)
      val docs = t(s, dir, "orders").select(concat(
        lit("{\"_id\":"), col("o_orderkey"),
        lit(",\"sub\":"),
        when(col("o_orderkey") % 2 === 0,
          concat(lit("{\"x\":"), col("o_custkey"), lit("}")))
          .otherwise(lit("\"scalar\"")),
        lit("}")).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs, """[{"$replaceWith": "$sub"}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.x").cast("long").as("x"),
        get_json_object(col("doc"), "$.sub").as("sub"))
    }),
    // the dynamic engine's $http against the same in-JVM echo endpoint:
    // full response parsing into the schemaless document
    "q_dynamic_http" -> ((s, dir) => {
      val port = graft.operators.EchoHttp.port
      val docs = t(s, dir, "nation").select(to_json(struct(
        col("n_nationkey").as("key"), col("n_name").as("name"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        s"""[{"$$http": {"url": "http://127.0.0.1:$port/calc",
              "method": "POST", "body": {"key": "$$key", "name": "$$name"},
              "as": "resp", "retries": 2}},
             {"$$project": {"_id": 0, "key": 1, "up": "$$resp.upper",
               "rv": "$$resp.rev", "ln": "$$resp.len"}}]""")
      out.select(
        get_json_object(col("doc"), "$.key").cast("long").as("key"),
        get_json_object(col("doc"), "$.up").as("up"),
        get_json_object(col("doc"), "$.rv").as("rv"),
        get_json_object(col("doc"), "$.ln").cast("int").as("ln"))
    }),
    "q_dynamic_match" -> ((s, dir) => {
      // v is a number for 2/3 of parts, a string otherwise: the query
      // $gt only matches within the numeric type bracket
      val docs = t(s, dir, "part").select(concat(
        lit("{\"_id\":"), col("p_partkey"), lit(",\"v\":"),
        when(col("p_partkey") % 3 =!= 0, col("p_size").cast("string"))
          .otherwise(concat(lit("\""), col("p_brand"), lit("\""))),
        lit("}")).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$match": {"v": {"$gt": 10}}}]""")
      out.select(get_json_object(col("doc"), "$._id").cast("long").as("_id"))
    }),
    "q_dynamic_group" -> ((s, dir) => {
      // heterogeneous accumulator inputs: number < string in the BSON
      // bracket order, $sum skips non-numbers and stays integral
      val docs = t(s, dir, "orders").select(concat(
        lit("{\"_id\":"), col("o_custkey") % 100, lit(",\"v\":"),
        when(col("o_orderkey") % 1000 === 0,
          concat(lit("\""), col("o_orderpriority"), lit("\"")))
          .otherwise(col("o_custkey").cast("string")),
        lit("}")).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$group": {"_id": "$_id",
              "mx": {"$max": "$v"}, "mn": {"$min": "$v"},
              "s": {"$sum": "$v"}, "n": {"$sum": 1}}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.mx").as("mx"),
        get_json_object(col("doc"), "$.mn").as("mn"),
        get_json_object(col("doc"), "$.s").cast("long").as("s"),
        get_json_object(col("doc"), "$.n").cast("long").as("n"))
    }),
    "q_dynamic_unwind" -> ((s, dir) => {
      val docs = t(s, dir, "part").select(concat(
        lit("{\"_id\":"), col("p_partkey"),
        lit(",\"arr\":["), col("p_size"), lit(","), col("p_partkey") % 10,
        lit("]}")).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$unwind": {"path": "$arr", "includeArrayIndex": "i"}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.arr").cast("long").as("el"),
        get_json_object(col("doc"), "$.i").cast("long").as("i"))
    }),
    // full-language $jslt on schemaless docs: recursive user def (digit
    // count), object comprehension with a computed key, null-drop rule
    "q_dynamic_jslt" -> ((s, dir) => {
      val docs = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))).as("doc"))
      val script =
        """def nd(n) if ($n < 10) 1 else 1 + nd(floor($n / 10))
          |def tier(p) if ($p > 150000) "high" else "low"
          |{"_id": ._id, "t": tier(.price), "nd": nd(._id),
          | "m": {for ({"s": .status}) .key + "2" : .value}}""".stripMargin
      val out = graft.dynamic.DynPipeline.run(docs,
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          org.json4s.JArray(List(org.json4s.JObject(List(
            "$jslt" -> org.json4s.JString(script))))))))
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.t").as("t"),
        get_json_object(col("doc"), "$.nd").cast("long").as("nd"),
        get_json_object(col("doc"), "$.m.s2").as("s2"))
    }),

    // full-language $jq on schemaless docs: user def, reduce over .[],
    // max/first builtins, stream select dropping rows
    "q_dynamic_jq" -> ((s, dir) => {
      val docs = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"),
        array(col("o_custkey") % 10, col("o_orderkey") % 7, lit(3)).as("xs"))).as("doc"))
      val script =
        """def total: reduce .xs[] as $x (0; . + $x);
          |{"_id": ._id, "s": total, "mx": (.xs | max), "f": (.xs | first)}
          || select(.mx > 5)""".stripMargin
      val out = graft.dynamic.DynPipeline.run(docs,
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
          org.json4s.JArray(List(org.json4s.JObject(List(
            "$jq" -> org.json4s.JString(script))))))))
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.s").cast("long").as("s"),
        get_json_object(col("doc"), "$.mx").cast("long").as("mx"),
        get_json_object(col("doc"), "$.f").cast("long").as("f"))
    }),

    // dynamic $setWindowFields: cross-type window over schemaless docs
    // (binary sortableKey carries the BSON order through the Window)
    "q_dynamic_window" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        col("value").as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$setWindowFields": {
              "partitionBy": "$et", "sortBy": {"_id": 1},
              "output": {
                "rn": {"$documentNumber": {}},
                "run": {"$sum": "$v",
                        "window": {"documents": ["unbounded", "current"]}},
                "prev": {"$shift": {"output": "$v", "by": -1, "default": 0}}}}},
            {"$project": {"rn": 1,
                          "run": {"$round": ["$run", 2]}, "prev": 1}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.rn").cast("long").as("rn"),
        get_json_object(col("doc"), "$.run").cast("double").as("run"),
        get_json_object(col("doc"), "$.prev").cast("double").as("prev"))
    }),
    // $vectorSearch: Atlas-style cosine top-k with a $match pre-filter and
    // the score surfaced via $meta (exact path; IVF/LSH are the scale twins)
    "q_vector_search" -> ((s, dir) => {
      val qv = (0 until 64).map(i => ((i % 7) - 3) * 0.1).mkString("[", ",", "]")
      // vec_id mod 1e7 = the replica-copy-invariant base id: $vectorSearch
      // tie order among EQUAL scores is unspecified (MongoDB contract), and
      // the 10x/100x replicas duplicate vectors verbatim, so the top-k picks
      // an arbitrary copy-subset — the projection collapses every copy to
      // its base id, making the gate scale-invariant (sf10 sweep find,
      // round 13). At sf0.01/sf0.1 ids are < 1e7, so the mod is identity.
      pipe(s, dir, "embeddings",
        s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qv,
               "numCandidates": 100, "limit": 10,
               "filter": {"label": {"$$lte": 3}}}},
             {"$$project": {"vec_id": {"$$mod": ["$$vec_id", 10000000]},
               "score": {"$$round": [{"$$meta": "vectorSearchScore"}, 6]}}}]""")
    }),
    // $geoNear: spherical (haversine) distance from a fixed GeoJSON point
    // to per-customer synthesized [lon,lat], query-prefiltered, bounded,
    // km-multiplied — the oracle recomputes the same haversine in DuckDB
    "q_geonear" -> ((s, dir) => {
      tune(s)
      val c = t(s, dir, "customer").withColumn("loc", array(
        (col("c_custkey") % 360 - 180 + 0.25).cast("double"),
        ((col("c_custkey") * 7) % 120 - 60 + 0.5).cast("double")))
      val out = new Pipeline().run(c,
        """[{"$geoNear": {"near": {"type": "Point", "coordinates": [12.5, 41.9]},
              "distanceField": "dist", "key": "loc", "spherical": true,
              "query": {"c_mktsegment": "BUILDING"},
              "minDistance": 100000, "maxDistance": 8000000,
              "distanceMultiplier": 0.001}}]""")
      out.select(col("c_custkey"),
        round(col("dist"), 2).as("dist_km"))
    }),
    "q_dynamic_geonear" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "customer").select(to_json(struct(
        col("c_custkey").as("_id"), col("c_mktsegment").as("seg"),
        array((col("c_custkey") % 360 - 180 + 0.25).cast("double"),
          ((col("c_custkey") * 7) % 120 - 60 + 0.5).cast("double")).as("loc")))
        .as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$geoNear": {"near": {"type": "Point", "coordinates": [12.5, 41.9]},
              "distanceField": "dist", "key": "loc", "spherical": true,
              "query": {"seg": "BUILDING"},
              "minDistance": 100000, "maxDistance": 8000000,
              "distanceMultiplier": 0.001}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("c_custkey"),
        round(get_json_object(col("doc"), "$.dist").cast("double"), 2)
          .as("dist_km"))
    }),
    // dynamic window calculus: derivative/linearFill/expMovingAvg over
    // schemaless docs (tie-safe: only bit-identical arithmetic, no rounding).
    // UNBOUNDED since round 12: the oracles replay the cumulative folds
    // with O(n)-memory block-carry recursive CTEs (bit-exact — same fold
    // op sequence), replacing the per-row running-list SQL that was O(n²)
    // and OOM-killed at the sf1 replica in round 11.
    "q_dynamic_window_calc" -> ((s, dir) => {
      val docs = t(s, dir, "events")
        .select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        when(col("user_id") % 10 === 0, lit(null))
          .otherwise(col("value")).as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$setWindowFields": {
              "partitionBy": "$et", "sortBy": {"_id": 1},
              "output": {
                "slope": {"$derivative": {"input": "$v"},
                          "window": {"documents": [-1, "current"]}},
                "fill": {"$linearFill": "$v"},
                "ema": {"$expMovingAvg": {"input": "$v", "N": 5}}}}},
            {"$project": {"slope": 1, "fill": 1, "ema": 1}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.slope").cast("double").as("slope"),
        get_json_object(col("doc"), "$.fill").cast("double").as("fill"),
        get_json_object(col("doc"), "$.ema").cast("double").as("ema"))
    }),
    // dynamic windowed N-family: minN/lastN/top via the BSON-ordered packed
    // structs (same oracle as the typed q_window_nfamily).
    // ts is rendered at FIXED-WIDTH MICROSECOND precision: to_json's
    // default timestamp format is millis (faithful to BSON dates), which
    // truncates the sort axis — at the sf10 replica, base events < 1 ms
    // apart collapsed into ties and the _id tiebreak interleaved replica
    // copies differently than the oracle's µs ordering (137/10M rows,
    // round-12 find). A fixed 6-digit fraction sorts lexicographically ==
    // chronologically.
    "q_dynamic_window_nfamily" -> ((s, dir) => {
      val docs = t(s, dir, "events")
        .select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("ts"),
        col("value").as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$setWindowFields": {
              "partitionBy": "$et", "sortBy": {"ts": 1, "_id": 1},
              "output": {
                "min3": {"$minN": {"input": "$v", "n": 3},
                         "window": {"documents": ["unbounded", "current"]}},
                "last2": {"$lastN": {"input": "$_id", "n": 2},
                          "window": {"documents": [-3, "current"]}},
                "topv": {"$top": {"output": "$_id",
                                  "sortBy": {"v": -1, "_id": 1}},
                         "window": {"documents": ["unbounded", "current"]}}}}},
            {"$project": {"m1": {"$arrayElemAt": ["$min3", 0]},
                          "m2": {"$arrayElemAt": ["$min3", 1]},
                          "m3": {"$arrayElemAt": ["$min3", 2]},
                          "la": {"$arrayElemAt": ["$last2", 0]},
                          "lb": {"$arrayElemAt": ["$last2", 1]},
                          "topv": 1}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("event_id"),
        get_json_object(col("doc"), "$.m1").cast("double").as("m1"),
        get_json_object(col("doc"), "$.m2").cast("double").as("m2"),
        get_json_object(col("doc"), "$.m3").cast("double").as("m3"),
        get_json_object(col("doc"), "$.la").cast("long").as("la"),
        get_json_object(col("doc"), "$.lb").cast("long").as("lb"),
        get_json_object(col("doc"), "$.topv").cast("long").as("topv"))
    }),
    // dynamic $fill locf over schemaless docs (to_json drops the nulled
    // value -> MISSING, the dynamic fillable state). ts at fixed-width µs
    // precision — see q_dynamic_window_nfamily's note (locf carry order is
    // tie-sensitive the same way).
    "q_dynamic_fill" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("ts"),
        when(col("event_id") % 3 === 0, lit(null))
          .otherwise(col("value")).as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$fill": {"partitionBy": "$et", "sortBy": {"ts": 1, "_id": 1},
                       "output": {"v": {"method": "locf"}}}},
            {"$project": {"v": 1}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("event_id"),
        get_json_object(col("doc"), "$.v").cast("double").as("v"))
    }),
    // dynamic $densify: per-partition gap rows on an integer grid
    "q_dynamic_densify" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        (col("user_id") % 50).as("slot"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$densify": {"field": "slot", "partitionByFields": ["et"],
                          "range": {"step": 1, "bounds": [0, 50]}}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("event_id"),
        get_json_object(col("doc"), "$.et").as("event_type"),
        get_json_object(col("doc"), "$.slot").cast("long").as("slot"))
    }),
    // dynamic expression breadth: dates, regex, sets, sortArray over
    // schemaless docs
    "q_dynamic_expr" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("ts"),
        col("event_type").as("et"), col("user_id").as("u"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$addFields": {
              "y": {"$year": "$ts"}, "d": {"$dayOfMonth": "$ts"},
              "day": {"$dateToString": {"format": "%Y-%m-%d", "date": "$ts"}},
              "age": {"$dateDiff": {"startDate": "$ts",
                       "endDate": "2024-02-01T00:00:00Z", "unit": "day"}},
              "hasE": {"$regexMatch": {"input": "$et", "regex": "e$"}},
              "clean": {"$replaceAll": {"input": "$et", "find": "a",
                                        "replacement": "_"}},
              "mods": {"$sortArray": {"input": [{"$mod": ["$u", 7]},
                        {"$mod": ["$u", 5]}, {"$mod": ["$u", 3]}],
                       "sortBy": 1}}}},
            {"$unset": ["ts", "et", "u"]}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.y").cast("long").as("y"),
        get_json_object(col("doc"), "$.d").cast("long").as("d"),
        get_json_object(col("doc"), "$.day").as("day"),
        get_json_object(col("doc"), "$.age").cast("long").as("age"),
        get_json_object(col("doc"), "$.hasE").cast("boolean").as("hase"),
        get_json_object(col("doc"), "$.clean").as("clean"),
        get_json_object(col("doc"), "$.mods").as("mods"))
    }),
    // dynamic $lookup: schemaless equi-join against a JSON catalog frame
    "q_dynamic_lookup" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(to_json(struct(
        col("c_custkey").as("ck"), col("c_name").as("name"))).as("doc"))
      val ords = t(s, dir, "orders").filter(col("o_orderkey") < 30000)
        .select(to_json(struct(
          col("o_orderkey").as("_id"), col("o_custkey").as("ck"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(ords,
        """[{"$lookup": {"from": "cust", "localField": "ck",
              "foreignField": "ck", "as": "c", "unwind": true}}]""",
        graft.dynamic.DynPipeline.DynCtx(catalog = _ => cust))
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.ck").cast("long").as("ck"),
        get_json_object(col("doc"), "$.c.name").as("cname"))
    }),
    // dynamic $lookup PIPELINE form: uncorrelated prefix, eq-correlated
    // $match, trailing $project — all on schemaless docs
    "q_dynamic_lookup_pipe" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(to_json(struct(
        col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_mktsegment").as("seg"))).as("doc"))
      val ords = t(s, dir, "orders").filter(col("o_orderkey") < 40000)
        .select(to_json(struct(
          col("o_orderkey").as("_id"), col("o_custkey").as("ck"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(ords,
        """[{"$lookup": {"from": "c", "let": {"lk": "$ck"},
              "pipeline": [
                {"$match": {"seg": "BUILDING"}},
                {"$match": {"$expr": {"$eq": ["$$lk", "$k"]}}},
                {"$project": {"name": 1, "_id": 0}}],
              "as": "m"}}]""",
        graft.dynamic.DynPipeline.DynCtx(catalog = _ => cust))
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.m[0].name").as("cname"))
    }),
    // dynamic $merge on the bucketed store: schemaless upsert, field overlay
    "q_dynamic_merge" -> ((s, dir) => {
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_dynm").toString)
      val base = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"), col("o_totalprice").as("p"),
        col("o_orderstatus").as("st"))).as("doc"))
      val ctx = graft.dynamic.DynPipeline.DynCtx(store = store)
      graft.dynamic.DynPipeline.run(base,
        """[{"$out": {"into": "t"}}]""", ctx).count()
      val batch = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(to_json(struct(
          col("o_orderkey").as("_id"),
          round(col("o_totalprice") * 2, 2).as("p"))).as("doc"))
      graft.dynamic.DynPipeline.run(batch,
        """[{"$merge": {"into": "t", "on": "_id",
              "whenMatched": "merge", "whenNotMatched": "insert"}}]""", ctx).count()
      store.read("t").select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.p").cast("double").as("p"),
        get_json_object(col("doc"), "$.st").as("st"))
    }),
    // dynamic whenMatched UPDATE PIPELINE: price accumulates via $$new and
    // an update counter stamps; priority drops on matched docs only
    "q_dynamic_merge_pipe" -> ((s, dir) => {
      val store = new graft.sources.BucketedParquetStore(s,
        java.nio.file.Files.createTempDirectory("graft_dynmp").toString)
      val base = t(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(to_json(struct(
          col("o_orderkey").as("_id"), col("o_totalprice").as("p"),
          col("o_orderpriority").as("prio"))).as("doc"))
      val ctx = graft.dynamic.DynPipeline.DynCtx(store = store)
      graft.dynamic.DynPipeline.run(base,
        """[{"$out": {"into": "t"}}]""", ctx).count()
      val batch = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"), col("o_totalprice").as("p"),
        col("o_orderpriority").as("prio"))).as("doc"))
      graft.dynamic.DynPipeline.run(batch,
        """[{"$merge": {"into": "t", "on": "_id",
              "whenMatched": [
                {"$set": {"p": {"$round": [{"$add": ["$p", "$$new.p"]}, 2]},
                          "n": {"$add": [{"$ifNull": ["$n", 0]}, 1]}}},
                {"$unset": "prio"}],
              "whenNotMatched": "insert"}}]""", ctx).count()
      store.read("t").select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.p").cast("double").as("p"),
        get_json_object(col("doc"), "$.prio").as("prio"),
        get_json_object(col("doc"), "$.n").cast("long").as("n"))
    }),
    // dynamic modern group accumulators: exact-interp median/percentile,
    // maxN, sortBy-comparator $top — all inside ONE fused DynGroupAgg
    "q_dynamic_group_stats" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("event_type").as("et"),
        col("value").as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$group": {"_id": "$et",
              "med": {"$median": {"input": "$v", "method": "approximate"}},
              "p90": {"$percentile": {"input": "$v", "p": [0.9],
                                      "method": "approximate"}},
              "top": {"$top": {"output": "$_id",
                               "sortBy": {"v": -1, "_id": 1}}}}},
            {"$project": {"med": {"$round": ["$med", 5]},
                          "p90": {"$round": [{"$arrayElemAt": ["$p90", 0]}, 5]},
                          "top": 1}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").as("_id"),
        get_json_object(col("doc"), "$.med").cast("double").as("med"),
        get_json_object(col("doc"), "$.p90").cast("double").as("p90"),
        get_json_object(col("doc"), "$.top").cast("long").as("top"))
    }),
    // dynamic $graphLookup: origin-keyed BFS over schemaless docs (same
    // distributed rounds as the typed engine, Jackson-tree documents)
    "q_dynamic_graphlookup" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(to_json(struct(
        col("c_custkey").as("ck"), col("c_nationkey").as("nk"))).as("doc"))
      val ords = t(s, dir, "orders").filter(col("o_orderkey") < 20000)
        .select(to_json(struct(
          col("o_orderkey").as("_id"), col("o_custkey").as("ck"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(ords,
        """[{"$graphLookup": {"from": "customer", "startWith": "$ck",
              "connectFromField": "nk", "connectToField": "ck",
              "as": "chain", "maxDepth": 3, "depthField": "d"}},
            {"$unwind": "$chain"},
            {"$project": {"ck2": "$chain.ck", "d": "$chain.d"}}]""",
        graft.dynamic.DynPipeline.DynCtx(catalog = _ => cust))
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.ck2").cast("long").as("ck2"),
        get_json_object(col("doc"), "$.d").cast("long").as("d"))
    }),
    // dynamic $bucketAuto: even-count buckets over schemaless docs with
    // Mongo boundary chaining and $group-powered output accumulators
    "q_dynamic_bucketauto" -> ((s, dir) => {
      val docs = t(s, dir, "events").select(to_json(struct(
        col("event_id").as("_id"), col("value").as("v"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$bucketAuto": {"groupBy": "$v", "buckets": 8,
              "output": {"n": {"$sum": 1},
                         "tot": {"$sum": "$v"}}}},
            {"$project": {"lo": "$_id.min", "hi": "$_id.max", "n": 1,
                          "tot": {"$round": ["$tot", 2]}, "_id": 0}}]""")
      out.select(
        get_json_object(col("doc"), "$.lo").cast("double").as("lo"),
        get_json_object(col("doc"), "$.hi").cast("double").as("hi"),
        get_json_object(col("doc"), "$.n").cast("long").as("n"),
        get_json_object(col("doc"), "$.tot").cast("double").as("tot"))
    }),
    // dynamic $vectorSearch: cosine top-k on schemaless docs, score via
    // $meta; one mapPartitions scoring pass + TakeOrdered top-k
    "q_dynamic_vectorsearch" -> ((s, dir) => {
      val qv = (0 until 64).map(i => ((i % 7) - 3) * 0.1).mkString("[", ",", "]")
      // cast float->double BEFORE to_json so the JSON carries the exact
      // widened values (shortest-decimal of the FLOAT would round-trip to a
      // different double than DuckDB's CAST(x AS DOUBLE))
      val docs = t(s, dir, "embeddings").select(to_json(struct(
        col("vec_id").as("_id"), col("label").as("lbl"),
        col("embedding").cast("array<double>").as("emb"))).as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        s"""[{"$$vectorSearch": {"path": "emb", "queryVector": $qv,
               "limit": 10, "filter": {"lbl": {"$$lte": 3}}}},
             {"$$project": {"score":
               {"$$round": [{"$$meta": "vectorSearchScore"}, 6]}}}]""")
      // mod 1e7: replica-copy-invariant base id (see q_vector_search note)
      out.select(
        (get_json_object(col("doc"), "$._id").cast("long") % 10000000L)
          .as("_id"),
        get_json_object(col("doc"), "$.score").cast("double").as("score"))
    }),

    // ---- LLM-data-pipeline operators --------------------------------------
    "llm_dedup_exact" -> ((s, dir) => {
      tune(s); DedupOps.exact(t(s, dir, "documents"), "text", "doc_id")
    }),
    "llm_token_count" -> ((s, dir) => {
      tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
    }),
    // overlapping token-window chunking (RAG prep): 96-token chunks,
    // 32-token overlap — a pure projection
    "llm_chunk_windows" -> ((s, dir) => {
      tune(s)
      TextOps.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 96, overlap = 32)
        .select("doc_id", "chunk_id", "chunk", "n_chunk_tokens")
    }),
    // C4-style repeated-line removal: reflow docs into 10-token lines (so
    // near-duplicate docs share boilerplate lines), drop corpus-wide repeats
    "llm_line_dedup" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val reflowed = docs.select(col("doc_id"),
        element_at(transform(array(TextOps.tokens(col("text"))), { toks =>
          array_join(transform(
            sequence(lit(0),
              greatest(ceil(size(toks).cast("double") / 10d).cast("int") - 1,
                lit(0))),
            i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")), "\n")
        }), 1).as("text"))
      DedupOps.dropRepeatedLines(reflowed, "doc_id", "text", minCount = 2)
    }),
    "llm_quality" -> ((s, dir) => {
      tune(s)
      TextOps.withQuality(t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "mean_word_len", "punct_ratio",
          "upper_ratio", "digit_ratio", "stopword_ratio", "quality")
    }),
    "llm_langid" -> ((s, dir) => {
      tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred"))
    }),
    // langid confusion matrix vs the labeled lang column: counts + the
    // per-true-lang fraction — two tiny-key aggregates after the
    // shuffle-free prediction scan
    "llm_langid_confusion" -> ((s, dir) => {
      tune(s)
      val pred = t(s, dir, "documents").select(col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
      val m = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      val tot = m.groupBy("lang").agg(sum("n").as("__t"))
      m.join(broadcast(tot), "lang").select(col("lang"), col("lang_pred"),
        col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("frac"))
    }),
    // MinHash LSH band planner: for every (bands, rows) factorization of
    // the signature size, the false-positive/false-negative areas of the
    // S-curve 1-(1-s^r)^b around the target threshold (midpoint Riemann
    // sum, fixed grid) — pure driver-side math (it PLANS the dedup job);
    // the oracle recomputes the whole sweep
    "llm_lsh_band_plan" -> ((s, _) => {
      tune(s)
      graft.llm.DedupOps.lshBandPlan(s, nPerms = 128, threshold = 0.7)
    }),
    // surgical span-level decontamination (PaLM-style): erase exactly the
    // benchmark-overlapping 8-gram windows, keep the rest of the doc; the
    // pseudo-eval-suite is the doc_id%41 slice, so its members strip to
    // empty and partial overlaps strip surgically — full SQL replay
    "llm_decontaminate_spans" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminateSpans(docs,
        docs.filter(col("doc_id") % 41 === 0), "text", "doc_id", n = 8)
    }),
    // sentence-aligned RAG chunking: prefix-sum assignment (sentence i ->
    // chunk floor(tokensBefore/40)), no sentence ever split; the oracle
    // replays sentences, token prefix sums, assignment and reassembly
    "llm_chunk_sentences" -> ((s, dir) => {
      tune(s)
      TextOps.chunkSentences(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 40)
    }),
    // CCNet-style interpolated bigram LM scoring (order-1 upgrade of
    // llm_unigram_logprob); the oracle replays bigram/unigram MLE tables
    // and the interpolation with identical double literals
    "llm_bigram_lm" -> ((s, dir) => {
      tune(s)
      CorpusOps.bigramLogProb(t(s, dir, "documents"), "text", "doc_id")
    }),
    // interpolated Kneser-Ney bigram scoring (absolute discount 0.75 +
    // continuation-count backoff) — the oracle recomputes the discounted
    // term, both N1+ tables, the type total and every per-doc mean
    "llm_kn_lm" -> ((s, dir) => {
      tune(s)
      CorpusOps.kneserNeyLogProb(t(s, dir, "documents"), "text", "doc_id")
    }),
    // curriculum ordering: perplexity band then deterministic md5 shuffle
    // within band, one global row_number via GlobalRank; the oracle
    // replays the LM, the banding and the full position assignment
    "llm_curriculum_order" -> ((s, dir) => {
      tune(s)
      CorpusOps.curriculumOrder(t(s, dir, "documents"), "text", "doc_id")
    }),
    // Moore-Lewis cross-entropy-difference selection: in-domain (lang=en)
    // vs general add-one unigram LMs over the shared vocab, top-25% by
    // score via the distributed GlobalRank; the oracle replays counts,
    // both smoothed models, every per-doc mean and the row_number cutoff
    "llm_moore_lewis" -> ((s, dir) => {
      tune(s)
      CorpusOps.mooreLewisSelect(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", keepFraction = 0.25)
    }),
    // Flesch Reading Ease + Flesch-Kincaid grade: vowel-group syllable
    // heuristic, fixed term order, shuffle-free scan; the oracle
    // recomputes syllables, sentences and both scores per document
    "llm_readability" -> ((s, dir) => {
      tune(s)
      TextOps.readability(t(s, dir, "documents"), "doc_id", "text")
    }),
    // dataset-release manifest: md5 shard assignment + per-shard docs/
    // tokens/chars and the order-independent exact digest-sum checksum;
    // one tiny-key shuffle, everything map-side combined
    "llm_export_manifest" -> ((s, dir) => {
      tune(s)
      CorpusOps.exportManifest(t(s, dir, "documents"), "text", "doc_id",
        nShards = 8)
    }),
    // the composed C4-style ingest funnel: rules -> langid -> exact dedup
    // -> near dedup -> decontamination, one survivor count per stage; the
    // oracle chains the stages' proven SQL fragments end to end
    "llm_pipeline_funnel" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      CorpusOps.pipelineFunnel(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id")
    }),
    // Naive-Bayes quality classifier (the GPT-3/LLaMA "classifier-based
    // filtering" step, fastText-shaped): trained on the doc_id%3 labeled
    // slice (label: lang='en'), applied to the whole corpus; closed-form
    // count-based fit means the oracle replays TRAINING AND INFERENCE
    "llm_nb_classify" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val labeled = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("__lab", col("lang") === "en")
      CorpusOps.nbTrainScore(docs, labeled, "doc_id", "text", "__lab",
        buckets = 64)
    }),
    // classifier calibration: the full PR threshold sweep of the NB
    // quality classifier on the HELD-OUT slice (doc_id % 3 == 1) —
    // distributed prefix sum (range partition + broadcast offsets),
    // never a single-partition window
    "llm_nb_pr" -> ((s, dir) => {
      tune(s)
      CorpusOps.prCurve(nbHeldOutScored(s, dir), "doc_id", "logit", "__y")
    }),
    // average precision (AUPRC, sklearn step definition): mean precision
    // at each positive's rank, one verdict row off the same sweep
    "llm_nb_ap" -> ((s, dir) => {
      tune(s)
      CorpusOps.averagePrecision(nbHeldOutScored(s, dir), "doc_id", "logit",
        "__y")
    }),
    // tie-correct ROC-AUC (Mann-Whitney midrank identity) of the same
    // held-out sweep: GlobalRank ranks + groupBy-on-score tie sizes,
    // one verdict row — no single-partition window
    "llm_nb_auc" -> ((s, dir) => {
      tune(s)
      CorpusOps.rocAuc(nbHeldOutScored(s, dir), "logit", "__y")
    }),
    // reliability diagram: sigmoid probability deciles, mean predicted
    // vs observed positive rate — one tiny-key groupBy
    "llm_nb_calibration" -> ((s, dir) => {
      tune(s)
      CorpusOps.calibration(nbHeldOutScored(s, dir), "logit", "__y", 10)
    }),
    // trainable quality classifier: 3 rounds of full-batch GD logistic
    // regression on the rounded quality-feature vector — per-round
    // weights + pre-update log-loss; the oracle replays the ENTIRE
    // descent (the BPE/EM training-loop-replay pattern)
    "llm_logreg" -> ((s, dir) => {
      tune(s)
      logRegBits(s, dir)._2
    }),
    // tie-correct ROC-AUC of the fitted logistic scorer on the held-out
    // doc_id%3==1 slice — the oracle refits the 3 GD rounds in SQL, then
    // recomputes the midrank identity
    "llm_logreg_auc" -> ((s, dir) => {
      tune(s)
      val (docs, _, w) = logRegBits(s, dir)
      val scored = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"),
          CorpusOps.logRegScore(logRegX, w).as("z"), col("__y"))
      CorpusOps.rocAuc(scored, "z", "__y")
    }),
    // DSIR importance resampling (Xie et al. 2023): target = the English
    // slice, raw = the whole corpus; hashed unigram+bigram bucket
    // histograms -> per-doc log importance weight -> Gumbel-top-k with
    // md5-derived noise; the oracle replays histograms, log-ratios, keys
    // and the rank cutoff end to end
    "llm_dsir" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      CorpusOps.dsirSelect(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 64, keepFraction = 0.25)
    }),
    // the published C4 + Gopher rule filters as one shuffle-free codegen
    // scan; the oracle recomputes every named rule in SQL
    "llm_gopher_c4" -> ((s, dir) => {
      tune(s)
      TextOps.gopherC4Rules(t(s, dir, "documents"), "text")
        .select("doc_id", "n_words", "n_lines", "n_sentences",
          "mean_word_len", "c4_short_line_frac", "c4_sentences_ok",
          "c4_no_lorem", "c4_no_brace", "g_wordcount_ok", "g_mwl_ok",
          "g_symbol_ok", "g_bullet_ok", "g_ellipsis_ok", "g_alpha_ok",
          "g_stopwords_ok", "keep")
    }),
    // URL canonicalization (CommonCrawl/C4-style dedup key): synthUrl
    // fabricates four messy variants per page (case, www, default port,
    // tracking params, fragments, param order) so the canonical form is
    // verifiable AND produces real dup groups; the oracle recomputes the
    // entire normalization in SQL. Shuffle-free scan.
    "llm_url_canon" -> ((s, dir) => {
      tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.synthUrl(col("doc_id")).as("url"))
        .withColumn("canon_url", TextOps.canonicalizeUrl(col("url")))
    }),
    // URL-level dedup: group on md5(canon) — 16-byte digests cross the
    // exchange, never the url strings (the exact-dedup digest shape)
    "llm_url_dedup" -> ((s, dir) => {
      tune(s)
      TextOps.urlDedup(t(s, dir, "documents").select(col("doc_id"),
        TextOps.synthUrl(col("doc_id")).as("url")),
        "doc_id", "url")
    }),
    "llm_fingerprint" -> ((s, dir) => {
      tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp"))
    }),
    "llm_ann_ivf" -> ((s, dir) => { // KMeans-trained buckets: rows-only check
      tune(s)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      VectorOps.ivfTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nLists = 16, nProbe = 2)
    }),
    "llm_pii_scrub" -> ((s, dir) => {
      tune(s)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.scrubPii(col("text")).as("clean"))
    }),
    "llm_sample_stratified" -> ((s, dir) => {
      tune(s)
      TextOps.stratifiedSample(t(s, dir, "documents"), "lang", "text", "doc_id", 20)
        .select("doc_id", "lang")
    }),
    "llm_pack_windows" -> ((s, dir) => {
      tune(s)
      TextOps.packIntoWindows(t(s, dir, "documents"), "doc_id", "text", 4096)
        .select("doc_id", "n_tokens", "window_id")
    }),
    // sharded packing: one window partition per `source`, the scale path
    "llm_pack_windows_sharded" -> ((s, dir) => {
      tune(s)
      TextOps.packIntoWindows(t(s, dir, "documents"), "doc_id", "text", 4096,
          shardCol = Some("source"))
        .select("doc_id", "source", "n_tokens", "window_id")
    }),
    // packing segment boundaries: per-doc [seg_start, seg_end) token
    // spans in the packed stream — what block-diagonal attention masks
    // are built from; sharded running count (no global window)
    "llm_pack_segments" -> ((s, dir) => {
      tune(s)
      TextOps.packSegments(t(s, dir, "documents"), "doc_id", "text", 4096,
        shardCol = Some("source"))
    }),
    // int8 embedding quantization: 4-8x storage/shuffle cut before ANN
    "llm_quantize_int8" -> ((s, dir) => {
      tune(s)
      VectorOps.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          concat_ws(",", transform(col("qvec"), x => x.cast("string"))).as("q"))
    }),
    // connected components over a deterministic chain pair list: every
    // near-dup cluster gets min-id as its label (the keep-one step after
    // pair generation)
    "llm_dedup_clusters" -> ((s, dir) => {
      tune(s)
      val pairs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      DedupOps.clusters(pairs)
    }),
    "llm_minhash_pairs" -> ((s, dir) => { // xxhash64 internals: rows-only check
      tune(s)
      DedupOps.minhashLsh(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4)
    }),
    "llm_simhash_neardup" -> ((s, dir) => { // rows-only check
      tune(s)
      DedupOps.simhashNearDup(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
    }),
    // END-TO-END near-dup removal: exact-dup pairs ∪ MinHash pairs → O(log d)
    // connected components → keep the component min; md5 family so DuckDB
    // replays the whole keep/drop decision incl. the recursive CC
    "llm_dedup_near" -> ((s, dir) => {
      tune(s)
      DedupOps.dedupNear(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4,
        md5Mode = true).select("doc_id")
    }),
    // the skew-proof scale path: pure-LSH bucket co-membership via star
    // edges (no per-pair Jaccard), Θ(Σm) where dedupNear is Σ m² — flat
    // under the r15 zipf probe's viral cluster; oracle replays the star
    // construction and the keep/drop decisions end to end
    "llm_dedup_near_lsh" -> ((s, dir) => {
      tune(s)
      DedupOps.dedupNearLsh(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, md5Mode = true)
        .select("doc_id")
    }),
    // leakage-safe split audit: hash the dup-CLUSTER label (not the doc
    // id) into train/val/test and COUNT the near-dup pairs the naive
    // per-doc split would leak across splits (leaked_safe ≡ 0 is the
    // verdict column); the oracle replays pairs, components, hashes and
    // both assignments end to end
    "llm_leakage_split" -> ((s, dir) => {
      tune(s)
      DedupOps.leakageSplit(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4)
    }),
    // incremental dedup: the doc_id%3==2 slice arrives as a NEW shard
    // against the rest as the cleaned reference index — per new doc the
    // exact-digest verdict, the banded-LSH + exact-Jaccard near verdict,
    // and keep; the oracle replays both corpora's digests, signatures,
    // buckets and verifications end to end
    "llm_dedup_incremental" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      DedupOps.dedupIncremental(
        docs.filter(col("doc_id") % 3 === 2),
        docs.filter(col("doc_id") % 3 =!= 2),
        "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4)
    }),
    // cross-engine-reproducible MinHash: the DuckDB oracle replays the WHOLE
    // LSH pipeline (md5 hash family, banding, candidates, jaccard verify)
    "llm_minhash_md5" -> ((s, dir) => {
      tune(s)
      DedupOps.minhashLshMd5(t(s, dir, "documents"), "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4)
    }),
    // same idea for SimHash: md5 bit votes -> 63-bit signature, chunk
    // buckets, hamming verify — all replayed by the DuckDB oracle
    "llm_simhash_md5" -> ((s, dir) => {
      tune(s)
      DedupOps.simhashNearDupMd5(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
    }),
    "llm_ngram_jaccard" -> ((s, dir) => {
      tune(s)
      // BOUNDED DEMO of the metric: an all-pairs crossJoin, deliberately
      // capped by the doc_id % 17 subsample + broadcast. The production
      // path at corpus scale is DedupOps.jaccardPairsExact (inverted
      // shingle index, joins only pairs sharing a shingle — the ground
      // truth inside llm_minhash_recall, plan-pinned in PlanSpec); this
      // entry exists to oracle the exact Jaccard arithmetic itself.
      // shingle ONCE per doc before the pair join — inlining the shingling
      // into the pair expression re-tokenizes per pair (O(pairs × doc_len))
      // repartition the STREAM side up front: the subsample collapses to
      // the source's 2-3 input splits, and the O(n²) pair work runs in
      // whatever partitioning feeds the nested-loop join (at the 100x
      // replica: 432M pair-intersects on 2 cores without this)
      val d = t(s, dir, "documents").filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
        .repartition(s.sparkContext.defaultParallelism)
      val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          DedupOps.jaccardOfSets(col("sh_a"), col("sh_b")).as("jaccard"))
    }),
    // ftfy-style cleanup: NFC composition (codegen'd expression) + control
    // strip + whitespace collapse; the appended literal carries a
    // DECOMPOSED e+COMBINING-ACUTE, a BEL and a tab so the oracle watches
    // all three transformations happen
    "llm_text_normalize" -> ((s, dir) => {
      tune(s)
      val raw = concat(col("text"), lit("  e\u0301\u0007\tend"))
      t(s, dir, "documents").select(col("doc_id"),
        length(raw).as("n_raw"),
        graft.llm.TextOps.normalizeText(raw).as("norm"))
        .withColumn("n_norm", length(col("norm")))
    }),
    "llm_media_meta" -> ((s, dir) => {
      tune(s)
      graft.llm.MultimodalOps.decodeImageMeta(
        graft.llm.MultimodalOps.asMedia(t(s, dir, "documents"), "text", "doc_id"))
    }),
    // REAL image decode loop: synthesize a lossless PNG per doc whose
    // pixels are a closed form of (doc_id, x, y), encode with ImageIO's
    // actual PNG writer, decode the BYTES back with ImageIO, and reduce to
    // integer pixel statistics — the oracle recomputes the statistics from
    // the formula without ever touching a PNG, so a hash match proves the
    // whole encode→decode→aggregate loop
    "llm_image_decode" -> ((s, dir) => {
      tune(s)
      val media = graft.llm.MultimodalOps.synthPng(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "doc_id", 24, 16)
      graft.llm.MultimodalOps.decodeImagePixels(media)
        .select("media_id", "width", "height", "channels",
          "sum_r", "sum_g", "sum_b", "px_checksum")
    }),
    // perceptual-hash image dedup from REAL decoded pixels: 64-bit aHash
    // (8x8 integer block pooling), banded LSH candidates, exact popcount
    // verify — complete for hamming<=3 by pigeonhole; the oracle replays
    // hash bits, banding and hamming in pure SQL
    "llm_image_neardup" -> ((s, dir) => {
      tune(s)
      val media = graft.llm.MultimodalOps.synthPng(
        t(s, dir, "documents"), "doc_id", 24, 16, groups = 64)
      graft.llm.MultimodalOps.imageNearDupPairs(
        graft.llm.MultimodalOps.aHash64(media), maxHamming = 2)
    }),
    // the SCALE composition: identical-hash pre-collapse (kills the
    // quadratic within-group pair blowup) -> banded rep pairs -> O(log d)
    // connected components; the oracle replays collapse + banding +
    // hamming + a recursive-CTE closure
    "llm_image_clusters" -> ((s, dir) => {
      tune(s)
      val media = graft.llm.MultimodalOps.synthPng(
        t(s, dir, "documents"), "doc_id", 24, 16, groups = 64)
      graft.llm.MultimodalOps.imageDupClusters(
        graft.llm.MultimodalOps.aHash64(media), maxHamming = 2)
    }),
    "llm_media_frames" -> ((s, dir) => {
      tune(s)
      graft.llm.MultimodalOps.sampleFrames(
        graft.llm.MultimodalOps.asMedia(t(s, dir, "documents"), "text", "doc_id"),
        n = 4).select("media_id", "frame_idx", "frame_ts_ms")
    }),
    "llm_media_av" -> ((s, dir) => {
      tune(s)
      // synthAv builds REAL WAV/MP4 containers (params derived from the id),
      // decodeAvMeta parses them back — the oracle recomputes every field
      // analytically from length(text), so a parser bug breaks the hash
      graft.llm.MultimodalOps.decodeAvMeta(
        graft.llm.MultimodalOps.synthAv(t(s, dir, "documents"), "text", "doc_id"))
    }),
    // REAL video decode loop: synthAvi writes actual AVI containers (RIFF
    // hdrl/movi) whose frame pixels are a closed form of (id, frame, x, y)
    // — even ids raw-DIB frames (pure byte-math decode), odd ids
    // PNG-compressed "00dc" frames (ImageIO decode) — and
    // decodeVideoFrames walks the container back to per-frame integer
    // pixel statistics; the oracle recomputes every stat from the formula
    // without touching a byte, so a hash match proves BOTH codec paths of
    // the container-write -> chunk-walk -> decode -> aggregate loop
    "llm_video_frames" -> ((s, dir) => {
      tune(s)
      val media = graft.llm.MultimodalOps.synthAvi(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
        "doc_id", 24, 16, nFrames = 3)
      graft.llm.MultimodalOps.decodeVideoFrames(media)
    }),
    "llm_cosine_topk" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      VectorOps.bruteTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5)
    }),
    // hard-negative mining for contrastive training: nearest non-dup
    // neighbors per query (sim < 0.35 dup band); the oracle replays
    // normalize -> dot -> band filter -> rank
    "llm_hard_negatives" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.hardNegatives(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, dupThreshold = 0.35)
    }),
    "llm_embed_neardup" -> ((s, dir) => {
      tune(s)
      VectorOps.embedNearDupExact(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)
    }),
    "llm_embed_neardup_lsh" -> ((s, dir) => { // strict oracle since r14 (literal planes)
      tune(s)
      VectorOps.embedNearDupLsh(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4)
    }),
    "llm_ann_lsh" -> ((s, dir) => { // strict oracle since r14 (literal planes)
      tune(s)
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      VectorOps.lshTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 5, nPlanes = 6)
    }),
    // ---- recall harness: every approximate method measured against its
    // exact twin, emitting a deterministic oracle row with a pinned floor —
    // an approximate-method regression below the floor fails the hash
    // compare loudly. Ground-truth counts that DuckDB can derive from the
    // data (query counts, true-jaccard/cosine pair counts) ride along.
    "llm_ann_ivf_recall" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val exact = VectorOps.bruteTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5)
      // the synthetic embeddings are STRUCTURELESS (same-label vs
      // diff-label cosine both ~0), so IVF recall is coverage-bound:
      // recall ~= nProbe/nLists, no quantizer can beat it (measured
      // sweep: 16/2=0.42, 16/4=0.59, 16/8=0.81 at sf0.1). nProbe=8
      // meets the 0.6 floor on this worst-case data; real clustered
      // corpora meet it at far smaller scan fractions.
      val approx = VectorOps.ivfTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5, nLists = 16, nProbe = 8)
      VectorOps.recallAtK(approx, exact).select(lit("ivf").as("method"),
        lit(5).as("k"), col("n_queries"),
        (col("recall") >= 0.6).as("meets_floor"))
    }),
    // product-quantization ANN with a FULL oracle: at lloydIters=0 the
    // md5-seeded codebook, L2-argmin codes and the j-ordered ADC fold all
    // replay exactly in SQL — training included, like llm_bpe_merges
    "llm_ann_pq" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.pqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, m = 4, ks = 8)
    }),
    // IVF-PQ: coarse-list pruning + PQ code scoring, BOTH md5-seeded so
    // the complete index build + probe + ADC search replays in SQL
    "llm_ann_ivfpq" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.ivfPqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nLists = 8, nProbe = 3, m = 4, ks = 8)
    }),
    "llm_ann_lsh_recall" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val exact = VectorOps.bruteTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5)
      val approx = VectorOps.lshTopK(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5, nPlanes = 4)
      VectorOps.recallAtK(approx, exact).select(lit("lsh").as("method"),
        lit(5).as("k"), col("n_queries"),
        (col("recall") >= 0.4).as("meets_floor"))
    }),
    // k-NN graph via NN-Descent (Dong 2011) — the graph-ANN family's build
    // step (behind HNSW/NSG search, UMAP's kNN graphs). Deterministic md5
    // init/sampling so the ENTIRE iterative build — random k-out init,
    // reverse-edge cap, local join, per-node top-k, both rounds — replays
    // in generated DuckDB CTEs, training loop included, like llm_bpe_merges
    "llm_knn_graph" -> ((s, dir) => {
      tune(s)
      VectorOps.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, iters = 2, maxRev = 10)
    }),
    // graph-ANN SEARCH over the NN-Descent build (the HNSW-family search
    // step, flattened to synchronous beam rounds): md5-lowest entry
    // points, 2 expansion rounds, beam 10 — the ENTIRE build+search
    // replays in generated DuckDB CTEs
    // Both graph-ANN queries SERVE from one shared persisted build
    // (graphSave → graphServe, r15): the O(n·k·iters) NN-Descent runs once
    // per JVM+sfDir and each query pays only beam·k·rounds pruned reads —
    // the build-once/serve-many amortization a production deployment needs
    // (and the r14 bench poles lacked). served == inline is pinned three
    // ways: the AnnSpec equality test, and BOTH queries replaying the
    // INLINE build+search in DuckDB CTEs. The inline graphSearchTopK path
    // stays driver-covered via llm_ann_graph_recall.
    "llm_ann_graph" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.graphServe(s, savedAnnGraph(s, dir),
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, beam = 10, rounds = 2, entries = 8)
    }),
    // a SECOND query slice over the SAME saved index — proves persistence
    // parity end-to-end (its oracle is the full inline replay) and that
    // the build amortizes across queries
    "llm_ann_graph_served" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.graphServe(s, savedAnnGraph(s, dir),
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        k = 5, beam = 10, rounds = 2, entries = 8)
    }),
    // graph-search recall twin on the same FIXED slice (coverage-bound on
    // structureless vectors like the IVF/LSH twins — ~(entries +
    // beam·k·rounds)/n distinct candidates tried); graphSearchTopK/
    // graphServe exclude the self-match, matching bruteTopK's non-self
    // ground truth. SERVES from a persisted slice index (r15 verdict #1:
    // this query was the last one paying an inline NN-Descent per run);
    // served == inline graphSearchTopK over the same build parameters is
    // AnnSpec-pinned, so the measured recall — and the 0.3 floor — is the
    // SAME number the inline path produced (measured 0.4132).
    "llm_ann_graph_recall" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val exact = VectorOps.bruteTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      val approx = VectorOps.graphServe(s, savedRecallGraph(s, dir),
        emb, "vec_id", "embedding", k = 5, beam = 12, rounds = 3,
        entries = 8)
      VectorOps.recallAtK(approx, exact).select(lit("graph").as("method"),
        lit(5).as("k"), col("n_queries"),
        (col("recall") >= 0.3).as("meets_floor"))
    }),
    // incremental index maintenance end-to-end (r15 verdict #5): serve the
    // GROWN index (graphSave on 400 docs + graphUpsert of 100 arrivals) —
    // recall of the new arrivals against the union-corpus ground truth
    // holds the same coverage-bound floor class as the rebuilt index, and
    // the new nodes are RETRIEVABLE for old queries (reverse edges landed,
    // not just searchable-from)
    "llm_ann_graph_upsert" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val fresh = emb.filter(col("vec_id") < 100)
      val path = savedUpsertGraph(s, dir)
      val exact = VectorOps.bruteTopK(emb, "vec_id", "embedding",
        fresh, "vec_id", "embedding", k = 5)
      val served = VectorOps.graphServe(s, path, fresh,
        "vec_id", "embedding", k = 5, beam = 12, rounds = 3, entries = 8)
      // "reverse edges landed" is an ADJACENCY fact — read it off the
      // grown graph table (one scan of a metadata-scale index) instead of
      // paying a second beam serve per run; search-level retrievability of
      // new nodes by old queries is AnnSpec-pinned on the same build
      val newFound = s.read.parquet(s"$path/graph")
        .filter(col("src") >= 100 && col("nbr") < 100)
        .agg(count(lit(1)).as("__cnt"))
      VectorOps.recallAtK(served, exact).crossJoin(newFound)
        .select(lit("graph_upsert").as("method"), lit(5).as("k"),
          col("n_queries"), (col("recall") >= 0.2).as("meets_floor"),
          (col("__cnt") > 0).as("new_retrievable"))
    }),
    // recall twin on a FIXED slice (vec_id < 500) so the pinned floor is
    // scale-independent: on STRUCTURELESS vectors NN-Descent is coverage-
    // bound like IVF/LSH (recall ~ unique candidates tried / n; measured
    // 0.375 at n=500 iters=3, 0.17 at n=2000 iters=5 — the fixed budget
    // dilutes with n, hence the fixed slice). Clustered corpora converge
    // to near-exact graphs instead (PcaKnnSpec pins >0.9 same-cluster).
    "llm_knn_graph_recall" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val exact = VectorOps.bruteTopK(emb, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5)
      val g = VectorOps.knnGraph(emb, "vec_id", "embedding", k = 5, iters = 3)
        .withColumnRenamed("src", "query_id")
      VectorOps.recallAtK(g, exact).select(lit("nndescent").as("method"),
        lit(5).as("k"), col("n_queries"),
        (col("recall") >= 0.3).as("meets_floor"))
    }),
    // PCA moment pass: per-partition (count, sum, upper-tri Σxxᵀ) merged
    // driver-side — NO shuffle at any corpus size; the oracle recomputes
    // all 2080 upper-triangular covariance entries from the raw vectors
    "llm_pca_cov" -> ((s, dir) => {
      tune(s)
      PcaOps.covarianceEntries(t(s, dir, "embeddings"), "embedding", 64)
    }),
    // PCA whitening verdict row: the driver-side Jacobi basis must be
    // orthonormal with descending eigenvalues; top-8 explained variance
    // >= 8/64 is a THEOREM (sorted eigenvalues), so the floor can never
    // flake; whitened component population variance == 1 is checked
    // DISTRIBUTED over the projected corpus; trace is data-derived on
    // both sides (Spark: moment pass; DuckDB: 64 per-dim variances)
    "llm_pca_whiten" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      val m = PcaOps.moments(emb, "embedding", 64)
      val (eig, v) = PcaOps.jacobiEigen(m.cov)
      val trace = (0 until 64).map(i => m.cov(i)(i)).sum
      val ortho = (for (a <- 0 until 64; b <- 0 until 64) yield {
        val d = (0 until 64).map(i => v(i)(a) * v(i)(b)).sum
        math.abs(d - (if (a == b) 1.0 else 0.0))
      }).max < 1e-9
      val desc = eig.zip(eig.tail).forall { case (a, b) => a >= b }
      val evr = eig.take(8).sum / trace
      val proj = PcaOps.pcaProject(emb, "vec_id", "embedding", 64, r = 8,
        whiten = true)
      val aggs = (0 until 8).flatMap { c =>
        val x = col("comps")(c)
        Seq(avg(x * x).as(s"__s$c"), avg(x).as(s"__m$c"))
      }
      val row = proj.agg(aggs.head, aggs.tail: _*).collect()(0)
      val unitVar = (0 until 8).map { c =>
        math.abs(row.getDouble(2 * c) -
          row.getDouble(2 * c + 1) * row.getDouble(2 * c + 1) - 1.0)
      }.max < 1e-6
      s.range(1).select(lit(m.n).as("n"), lit(64).as("dim"), lit(8).as("r"),
        lit(BigDecimal(trace).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble).as("trace"),
        lit(ortho).as("orthonormal"), lit(desc).as("eigs_descending"),
        lit(evr >= 8.0 / 64).as("evr_meets_floor"),
        lit(unitVar).as("whitened_unit_var"))
    }),
    // all-but-the-top (Mu & Viswanath 2018): residuals must be exactly
    // orthogonal to the removed top components and exactly mean-free —
    // both checked DISTRIBUTED over the processed corpus
    "llm_abtt" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      val m = PcaOps.moments(emb, "embedding", 64)
      val (_, v) = PcaOps.jacobiEigen(m.cov)
      val out = PcaOps.removeTop(emb, "vec_id", "embedding", 64, r = 2)
      val dotChecks = (0 until 2).map { c =>
        max(abs(VectorOps.dot(col("vec"),
          lit(Array.tabulate(64)(i => v(i)(c)))))).as(s"__d$c")
      }
      val meanChecks = (0 until 64).map(i => avg(col("vec")(i)).as(s"__m$i"))
      val row = out.agg(dotChecks.head,
        (dotChecks.tail ++ meanChecks): _*).collect()(0)
      val orthoRes = (0 until 2).map(c => row.getDouble(c)).max < 1e-9
      // the centering mean comes from the quantized (order-proof) moment
      // pass, so the residual mean carries the quantization half-ulp,
      // |E[x]−μ_q| ≲ 0.5/(10⁶·√n) ~ 1e-8 — bound at 1e-6, not 1e-9
      val meanFree = (0 until 64).map(i =>
        math.abs(row.getDouble(2 + i))).max < 1e-6
      s.range(1).select(lit(m.n).as("n"), lit(2).as("removed"),
        lit(orthoRes).as("residual_orthogonal"),
        lit(meanFree).as("mean_removed"))
    }),
    "llm_minhash_recall" -> ((s, dir) => {
      tune(s)
      // deterministic subset keeps the all-pairs ground truth affordable at
      // bench scale; DuckDB replays the same subset
      val d0 = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val approx = DedupOps.minhashLsh(d0, "text", "doc_id",
        shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.4)
        .select("id_a", "id_b")
      // ground truth: true shingle-set Jaccard >= threshold over the same
      // distinct-text universe, via the inverted-index exact pairs (an
      // all-pairs nested loop was measured 112 s at sf0.1; the index join
      // is the 100 TB-shaped formulation)
      val exact = DedupOps.jaccardPairsExact(d0, "text", "doc_id",
        shingleK = 3, threshold = 0.4).select("id_a", "id_b")
      DedupOps.pairRecall(approx, exact).select(lit("minhash").as("method"),
        col("n_true"), (col("recall") >= 0.5).as("meets_floor"))
    }),
    "llm_simhash_recall" -> ((s, dir) => {
      tune(s)
      val d0 = t(s, dir, "documents")
      val approx = DedupOps.simhashNearDup(d0, "text", "doc_id", maxHamming = 3)
        .select("id_a", "id_b")
      val exact = DedupOps.simhashNearDupExact(d0, "text", "doc_id", maxHamming = 3)
      // the 16-bit pigeonhole chunks make the bucketed variant COMPLETE for
      // maxHamming <= 3: recall must be exactly 1
      DedupOps.pairRecall(approx, exact).select(lit("simhash").as("method"),
        (col("n_found") === col("n_true")).as("complete"))
    }),
    "llm_embed_lsh_recall" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings").filter(col("vec_id") % 2 === 0)
      val approx = VectorOps.embedNearDupLsh(emb, "vec_id", "embedding",
        threshold = 0.4, nPlanes = 4, bands = 12).select("id_a", "id_b")
      val exact = VectorOps.embedNearDupExact(emb, "vec_id", "embedding",
        threshold = 0.4).select("id_a", "id_b")
      DedupOps.pairRecall(approx, exact).select(lit("embed_lsh").as("method"),
        col("n_true"), (col("recall") >= 0.6).as("meets_floor"))
    }),
    // Gopher-style repetition signals: dup-word + top-bigram fractions,
    // computed per doc with no shuffle (ints carried so the fractions are
    // auditable)
    "llm_repetition" -> ((s, dir) => {
      tune(s)
      val rep = TextOps.repetitionFeatures(col("text"))
      t(s, dir, "documents").select(col("doc_id"), rep.as("r"))
        .select(col("doc_id"),
          col("r.n_words").as("n_words"),
          col("r.n_distinct_words").as("n_distinct_words"),
          round(lit(1.0) - col("r.n_distinct_words") / col("r.n_words"), 4)
            .as("dup_word_frac"),
          col("r.n_bigrams").as("n_bigrams"),
          col("r.top_bigram_count").as("top_bigram_count"),
          when(col("r.n_bigrams") === 0, lit(null))
            .otherwise(round(col("r.top_bigram_count") / col("r.n_bigrams"), 4))
            .as("top_bigram_frac"))
    }),
    // benchmark decontamination: flag docs sharing any word 8-gram with the
    // "eval set" (docs with doc_id % 97 == 0 stand in for it)
    "llm_decontaminate" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      CorpusOps.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 8)
    }),
    // fuzzy (MinHash near-dup) decontamination, md5 family so the oracle
    // replays the whole pipeline incl. band buckets. The benchmark is a
    // TRUNCATED copy (80% word prefix) of every 50th doc — the realistic
    // contamination shape: eval sets hold near-verbatim fragments, not
    // byte-identical pages.
    "llm_decontaminate_fuzzy" -> ((s, dir) => {
      tune(s)
      // deterministic half of the corpus: md5 replay mode pays 32 md5
      // hashes per shingle (verification-grade; production runs xxhash64
      // via md5Mode=false), so the bench-facing oracle query bounds it
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val toks = filter(split(trim(lower(col("text"))), "\\s+"),
        x => length(x) > 0)
      // synthetic bench ids live at +1e12: the ORACLE tells corpus from
      // bench by that threshold after its UNION ALL, so corpus doc_ids must
      // stay below it (the engine itself keeps the two frames separate and
      // has no such precondition)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest(lit(1), ceil(size(toks) * 0.8).cast("int")))).as("text"))
      CorpusOps.decontaminateFuzzy(docs, bench,
        "text", "doc_id", shingleK = 3, bands = 8, rowsPerBand = 4,
        threshold = 0.5, md5Mode = true)
    }),
    // Bloom-filter decontamination, the zero-shuffle scale path: the
    // oracled surface is the one-row superset contract (no false
    // negatives vs the exact n-gram probe, FP overshoot bounded) —
    // Bloom bits are Murmur3-deterministic but not SQL-replayable.
    "llm_decontaminate_bloom" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      // fpp compounds PER GRAM: a doc with g grams false-positives with
      // probability ~g·fpp, so the filter is sized at 1e-6 (still tiny)
      // to keep expected FP docs ≪ the 50-doc bound
      CorpusOps.bloomSupersetCheck(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", "doc_id", n = 8, fpp = 1e-6)
    }),
    // Lee et al. 2021 span-level dedup: 4-token windows hashed corpus-wide,
    // windows in >= 2 distinct docs erased from every doc that carries them
    "llm_span_dedup" -> ((s, dir) => {
      tune(s)
      DedupOps.dropDuplicateSpans(t(s, dir, "documents"),
        "doc_id", "text", w = 4)
    }),
    // SemDeDup over the embeddings table: md5-seeded centroids (lloydIters
    // = 0 keeps the whole pipeline SQL-replayable — the oracle re-runs
    // seed pick, argmax assignment, and the within-cluster threshold)
    "llm_semdedup" -> ((s, dir) => {
      tune(s)
      VectorOps.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        nClusters = 8, tau = 0.4)
    }),
    // retrieval eval of the exact cosine ranking: per-query MRR and
    // nDCG@5 with same-label vectors as the relevance set — the oracle
    // replays the ranking (the cosine_topk chain) plus both metrics
    "llm_retrieval_eval" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.retrievalEval(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") % 100 === 0), k = 5)
    }),
    // k-center greedy coreset selection (farthest-point sampling): 6
    // rounds, incremental min-distance column, TakeOrdered argmax; the
    // oracle replays seed pick + every argmax + every distance update as
    // unrolled MATERIALIZED CTEs
    "llm_kcenter" -> ((s, dir) => {
      tune(s)
      VectorOps.kCenterGreedy(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 6)
    }),
    // REAL PCM sample decode: synthAv's WAV payload is the doc text's
    // UTF-8 bytes, so the oracle recomputes every integer-exact stat
    // (amplitudes, DC-removed crossings, per-frame energies) analytically
    // from ascii() — a decoder bug anywhere in the RIFF walk or the
    // little-endian sample math breaks the hash
    "llm_audio_pcm" -> ((s, dir) => {
      tune(s)
      graft.llm.MultimodalOps.decodeAudioPcm(
        graft.llm.MultimodalOps.synthAv(t(s, dir, "documents"),
          "text", "doc_id"))
        .filter(col("kind") === "pcm16")
    }),
    // C4/RefinedWeb-style per-domain cap: deterministic md5-priority keep
    "llm_domain_cap" -> ((s, dir) => {
      tune(s)
      CorpusOps.capPerKey(t(s, dir, "documents"), "source", "doc_id", 10)
        .select("doc_id", "source")
    }),
    "llm_tfidf_topk" -> ((s, dir) => {
      tune(s)
      CorpusOps.tfidfTopK(t(s, dir, "documents"), "text", "doc_id", k = 3)
    }),
    "llm_unigram_logprob" -> ((s, dir) => {
      tune(s)
      CorpusOps.unigramLogProb(t(s, dir, "documents"), "text", "doc_id")
    }),
    // pretraining mixture reweighting: per-source token budgets via
    // deterministic md5 hash sampling; weights 1+i%4 and wSum=50 are
    // integer-exact doubles so the oracle's arithmetic is bit-identical
    "llm_mixture_sample" -> ((s, dir) => {
      tune(s)
      val weights = (0 until 20).map(i => s"src$i" -> (1.0 + i % 4)).toMap
      CorpusOps.mixtureSample(t(s, dir, "documents"), "doc_id", "text",
        "source", weights, budgetTokens = 30000L)
    }),
    // CCNet-style head/middle/tail quality bands by unigram perplexity;
    // the distributed GlobalRank replays as one rank() window in DuckDB
    "llm_ppl_buckets" -> ((s, dir) => {
      tune(s)
      CorpusOps.perplexityBuckets(t(s, dir, "documents"), "text", "doc_id",
        nBuckets = 3)
    }),
    // BM25 lexical retrieval: one stats row broadcast back, map-side
    // scoring, TakeOrdered cutoff
    "llm_bm25_topk" -> ((s, dir) => {
      tune(s)
      CorpusOps.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        query = "spark merge window", k = 20)
    }),
    // real BPE (Sennrich et al.): distributed trainer over the weighted
    // word vocabulary, one argmax job per merge round; DuckDB replays the
    // ENTIRE training loop (argmax + merge fold per round) in generated SQL
    "llm_bpe_merges" -> ((s, dir) => {
      tune(s)
      import s.implicits._
      sharedBpeMerges(s, dir)
        .zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) }
        .toDF("rank", "l", "r")
    }),
    "llm_bpe_encode" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val merges = sharedBpeMerges(s, dir)
      graft.llm.BpeOps.encode(docs, "text", merges)
        .select(col("doc_id"), size(col("bpe")).as("n_tok"))
    }),
    // contrastive triplets: best near-dup positive + best hard negative
    // per anchor (inner semantics — anchors missing either side drop)
    "llm_triplets" -> ((s, dir) => {
      tune(s)
      val emb = t(s, dir, "embeddings")
      VectorOps.tripletMine(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
        posThreshold = 0.3, negThreshold = 0.2)
    }),
    // dataset card: the per-source stats bundle a data release ships —
    // volume, tokens, quality, language mix, exact-dup rate; one
    // columnar scan + a digest-grouped distinct, everything per-source
    "llm_dataset_card" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val f = TextOps.qualityFeatures(col("text"))
      val base = docs.select(col("source"), col("lang"),
        f.nTokens.cast("long").as("__nt"),
        length(col("text")).cast("long").as("__nc"),
        // per-doc quality quantized to a 1e6-scaled long (it is already a
        // 6-dp value) → the per-source mean rides an exact integer sum
        round(f.quality * 1e6, 0).cast("long").as("__qq"),
        md5(col("text")).as("__d"))
      val dd = base.groupBy(col("source"), col("__d"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("source").agg(count(lit(1)).as("distinct_docs"))
      base.groupBy("source").agg(
          count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"),
          sum("__nc").as("n_chars"),
          round(sum("__qq").cast("double") /
            count(lit(1)).cast("double") / 1e6, 6).as("mean_quality"),
          round(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 6)
            .as("pct_en"),
          round(avg(col("__nt").cast("double")), 6).as("mean_doc_tokens"))
        .join(dd, "source")
        .withColumn("exact_dup_rate", round(lit(1.0) -
          col("distinct_docs").cast("double") / col("n_docs"), 6))
    }),
    // WordPiece greedy longest-match tokenizer (Wu et al. 2016 / BERT),
    // the INFERENCE side of a trained vocab — like BERT's shipped vocab,
    // the pieces here are BPE-learned merge tokens plus the top-12 whole
    // words, with character coverage CLOSED over the top words so rare
    // words with unseen characters hit the whole-word [UNK] rule. The
    // oracle replays BPE training (shared CTE prefix), vocab assembly,
    // per-position longest match, and the greedy walk (recursive CTE)
    "llm_wordpiece" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val merges = sharedBpeMerges(s, dir)
      val vocab = graft.llm.BpeOps.wordpieceVocab(docs, "text", 12,
        extraPieces = merges.map(m => m._1 + m._2), fullCharCoverage = false)
      graft.llm.BpeOps.wordpieceEncode(docs, "text", vocab)
        .select(col("doc_id"), size(col("wp")).as("n_wp"),
          size(filter(col("wp"), x => x === "[UNK]")).as("n_unk"))
    }),
    // unigram-LM tokenization (Kudo 2018 / SentencePiece): piece table
    // from substring-occurrence counts (closed-form first M-step, pruned
    // at umMinCount with single chars always kept), Viterbi per word
    // with (score, last-piece-length) tie-break; the oracle replays the
    // piece table AND the DP as an unrolled per-position chain
    "llm_unigram_tok" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val pieces = unigramTrainRows(s, dir)
        .map { case (p, _, lp) => p -> lp }.toMap
      graft.llm.UnigramOps.encode(docs, "text", pieces, umL)
        .select(col("doc_id"), col("um_n").as("n_pieces"),
          round(col("um_logp"), 4).as("logp"), col("um_unk").as("n_unk"))
    }),
    // one REAL EM round for the unigram LM (Kudo 2018 E+M steps):
    // forward-backward expected piece counts over every word's
    // segmentation lattice, renormalized — the oracle replays both
    // lattices as unrolled sum-product CTE chains with the identical
    // term order
    "llm_unigram_em" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      graft.llm.UnigramOps.emRound(docs, "text", unigramProbs0(s, dir), umL)
    }),
    // two CHAINED EM rounds — round 2's model is round 1's renormalized
    // (unrounded) expected counts; EmSpec pins that each round is
    // likelihood-non-decreasing, the defining EM property
    "llm_unigram_em2" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      graft.llm.UnigramOps.emRound(docs, "text", unigramProbs1(s, dir), umL)
    }),
    // EM convergence verdict: corpus log-likelihood before and after
    // each of two EM rounds plus the monotonicity flag — EM's defining
    // guarantee pinned in the ORACLE ARTIFACT, not just a spec; the
    // distributed LL aggregates in the engine (no word list on the
    // driver)
    "llm_unigram_em_ll" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      import s.implicits._
      val U = graft.llm.UnigramOps
      val probs0 = unigramProbs0(s, dir)
      def next(pr: Map[String, Double]) = {
        // ecq is DECIMAL(38,0); BigInt fold keeps the total exact at any
        // scale, and the per-piece division is IEEE-identical to the old
        // Long path
        val ec = U.expectedCounts(docs, "text", pr, umL)
          .as[(String, java.math.BigDecimal)].collect()
          .map { case (p, e) => (p, BigInt(e.toBigInteger)) }
        val te = ec.map(_._2).sum
        ec.map { case (p, e) => p -> (e.toDouble / te.toDouble) }.toMap
      }
      val probs1 = unigramProbs1(s, dir)
      val probs2 = next(probs1)
      // exact 1e9-scaled integer log-likelihoods: the monotone flag
      // compares integers, the reported values are one IEEE division
      def ll(pr: Map[String, Double]): BigInt =
        BigInt(U.corpusLogLikelihoodDF(docs, "text", pr, umL)
          .head.getDecimal(0).toBigInteger)
      val (l0, l1, l2) = (ll(probs0), ll(probs1), ll(probs2))
      Seq((l0.toDouble, l1.toDouble, l2.toDouble, l1 >= l0 && l2 >= l1))
        .toDF("a", "b", "c", "m")
        .select(round(col("a") / 1e9, 4).as("ll0"),
          round(col("b") / 1e9, 4).as("ll1"),
          round(col("c") / 1e9, 4).as("ll2"),
          col("m").as("monotone"))
    }),
    // token-budgeted per-source selection: keep highest-quality docs
    // (rounded-quality order, id tie-break) until each source's token
    // budget is crossed — one source-key exchange, per-source running
    // sum, never a global window
    "llm_token_budget" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val f = TextOps.qualityFeatures(col("text"))
      val base = docs.select(col("source"), col("doc_id"),
        round(f.quality, 6).as("quality"),
        f.nTokens.cast("long").as("n_tok"))
      CorpusOps.tokenBudgetSelect(base, "source", "doc_id", "quality",
        "n_tok", budgetTokens = 600L)
    }),
    // sketch-quantile contract: the mergeable GK sketch is the 100 TB
    // path for distribution stats (no global sort); the oracle
    // recomputes the exact interpolated percentiles and expects every
    // rank-bound flag true, so a sketch regression fails the hash
    // compare (the Bloom-superset pattern)
    "llm_len_quantiles" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents").select(
        TextOps.tokenCount(col("text")).cast("double").as("n_tok"))
      CorpusOps.quantileSketchCheck(docs, "n_tok",
        Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99), 1000)
    }),
    // cross-source contamination matrix: distinct shared word 5-grams
    // and gram-set Jaccard for every source pair — the "which dumps
    // duplicate each other" table behind mixture-weight decisions;
    // digests cross the shuffle, pair fan-out bounded by |sources|²
    "llm_source_overlap" -> ((s, dir) => {
      tune(s)
      CorpusOps.sourceOverlap(t(s, dir, "documents"), "text", "source", 5)
    }),
    // Zipf-slope health check: ln(freq)~ln(rank) least-squares fit over
    // each source's top-100 terms (natural text ~ -1); top-K via the
    // skew-safe BoundedTopK aggregate, fit is a closed-form aggregate
    "llm_zipf_slope" -> ((s, dir) => {
      tune(s)
      CorpusOps.zipfSlope(t(s, dir, "documents"), "text", "source", 100)
    }),
    // corpus diversity: distinct trigrams / total trigrams per source
    // (template-spam sources score low); digests cross the shuffle,
    // never gram text
    "llm_ngram_diversity" -> ((s, dir) => {
      tune(s)
      CorpusOps.ngramDiversity(t(s, dir, "documents"), "text", "source", 3)
    }),
    // KMV bottom-k distinct sketch per source (vocabulary-size estimate)
    // checked against the exact count — the mergeable path for distinct
    // stats when the key set outgrows a count-distinct shuffle; bottom-k
    // survives partial agg, so ≤ k hashes/group cross per partition
    "llm_kmv_distinct" -> ((s, dir) => {
      tune(s)
      CorpusOps.kmvDistinct(t(s, dir, "documents"), "text", "source", 128)
    }),
    // Count-Min sketch heavy hitters: per-partition local counter grids
    // merged by elementwise sum (≤ depth·width longs cross per partition);
    // the oracle rebuilds the identical md5 grid and re-answers every
    // point query, plus the never-underestimates verdict column
    "llm_cms_heavy" -> ((s, dir) => {
      tune(s)
      CorpusOps.cmsHeavyHitters(t(s, dir, "documents"), "text",
        depth = 4, width = 256, k = 20)
    }),
    // Efraimidis-Spirakis weighted sampling: ln(u)/w exponential keys with
    // md5-derived u, top-k largest = an exact weighted sample; one
    // shuffle-free scoring scan + the BoundedTopK partial agg
    "llm_weighted_sample" -> ((s, dir) => {
      tune(s)
      CorpusOps.weightedSample(t(s, dir, "documents"), "doc_id",
        TextOps.tokenCount(col("text")), k = 25)
    }),
    // tokenizer-eval fertility: per language, BPE tokens per word and
    // chars per token (the standard tokenizer-quality stats); encode is
    // the broadcast-rank greedy scan, the rollup one tiny-key groupBy
    "llm_bpe_fertility" -> ((s, dir) => {
      tune(s)
      val docs = t(s, dir, "documents")
      val merges = sharedBpeMerges(s, dir)
      graft.llm.BpeOps.encode(docs, "text", merges)
        .select(col("lang"), size(col("bpe")).cast("long").as("__t"),
          TextOps.tokenCount(col("text")).cast("long").as("__w"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long")
            .as("__c"))
        .groupBy("lang")
        .agg(sum(col("__t")).as("n_tokens"), sum(col("__w")).as("n_words"),
          sum(col("__c")).as("n_chars"))
        .select(col("lang"), col("n_tokens"), col("n_words"), col("n_chars"),
          round(col("n_tokens").cast("double") / col("n_words"), 6)
            .as("fertility"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("chars_per_token"))
    }),
    // reproducible corpus shuffle: total order by seeded md5, global
    // positions from range-partitioned sort + per-partition offsets (no
    // global window) — DuckDB replays the order bit-exactly
    "llm_shuffle_deterministic" -> ((s, dir) => {
      tune(s)
      CorpusOps.deterministicShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", "train1", 8)
        .select("doc_id", "skey", "pos", "shard")
    }),
    // hybrid retrieval: BM25 lexical + embedding cosine rankings fused by
    // reciprocal rank ($rankFusion's rule); ranks ride ROUNDED scores with
    // id tie-breaks so the fusion is cross-engine deterministic
    "llm_hybrid_rrf" -> ((s, dir) => {
      tune(s)
      import org.apache.spark.sql.expressions.Window
      def ranked(df: DataFrame, score: String, id: String): DataFrame =
        df.withColumn("rank", row_number().over(
          Window.orderBy(col(score).desc, col(id)))).limit(50)
      val bm25 = ranked(CorpusOps.bm25TopK(t(s, dir, "documents"), "text",
        "doc_id", query = "spark merge window", k = 50), "bm25", "doc_id")
      val qdf = s.range(1).select(lit(-1L).as("qid"),
        array((0 until 64).map(i => lit(((i % 7) - 3) * 0.1)): _*).as("qv"))
      val cos = ranked(
        graft.llm.VectorOps.bruteTopK(t(s, dir, "embeddings"), "vec_id",
          "embedding", qdf, "qid", "qv", k = 1000000)
          .select(col("nn_id").as("doc_id"), col("sim")),
        "sim", "doc_id")
      CorpusOps.rrfFusion(Seq((bm25, 1.0), (cos, 1.0)), "doc_id", k = 15)
    }),
    // gap-based sessionization over the event stream (30-min gap)
    "q_sessionize" -> ((s, dir) => {
      tune(s)
      graft.operators.Sessionize(t(s, dir, "events"),
        "user_id", "ts", "value", gapSeconds = 1800L)
    }),
    // backward as-of join: even events (trades) pick up the latest odd
    // event's value (quotes) per user — union+window, one key shuffle
    "q_asof" -> ((s, dir) => {
      tune(s)
      val ev = t(s, dir, "events").withColumn("sec", unix_timestamp(col("ts")))
      val trades = ev.filter(col("event_id") % 2 === 0)
        .select("event_id", "user_id", "sec")
      val quotes = ev.filter(col("event_id") % 2 === 1)
        .groupBy("user_id", "sec")
        .agg(max_by(col("value"), col("event_id")).as("qvalue"))
      graft.operators.AsOfJoin(trades, quotes, "user_id", "sec", Seq("qvalue"))
    }),
    // 1-hour tumbling windows per event type (the batch shape of the
    // streaming windowed aggregation)
    "q_event_windows" -> ((s, dir) => {
      tune(s)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    }),
    // bitwise / ISO-date / byte-length expression breadth
    "q_expr_bits" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$project": {"event_id": 1,
            "band": {"$bitAnd": ["$event_id", 255]},
            "bor":  {"$bitOr":  ["$event_id", 16]},
            "bxor": {"$bitXor": ["$event_id", 129]},
            "bnot": {"$bitNot": "$event_id"},
            "blen": {"$strLenBytes": "$event_type"},
            "ms":  {"$millisecond": "$ts"},
            "iw":  {"$isoWeek": "$ts"},
            "idw": {"$isoDayOfWeek": "$ts"},
            "iwy": {"$isoWeekYear": "$ts"}}}]""")),
    // $setWindowFields: running sum / document number / shift / bounded
    // moving average per event type, all over ONE Spark Window
    "q_window_fields" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"ts": 1, "event_id": 1},
            "output": {
              "running": {"$sum": "$value",
                          "window": {"documents": ["unbounded", "current"]}},
              "rnk": {"$documentNumber": {}},
              "prev": {"$shift": {"output": "$value", "by": -1, "default": 0}},
              "avg3": {"$avg": "$value", "window": {"documents": [-2, "current"]}}}}},
          {"$project": {"event_id": 1,
                        "running": {"$round": ["$running", 2]},
                        "rnk": 1, "prev": 1,
                        "avg3": {"$round": ["$avg3", 4]}}}]""")),
    // $setWindowFields statistics family: stddev / covariance / addToSet
    "q_window_stats" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"ts": 1, "event_id": 1},
            "output": {
              "sdp": {"$stdDevPop": "$value",
                      "window": {"documents": [-5, "current"]}},
              "sds": {"$stdDevSamp": "$value",
                      "window": {"documents": [-5, "current"]}},
              "cvp": {"$covariancePop": ["$value", {"$toDouble": "$user_id"}]},
              "cvs": {"$covarianceSamp": ["$value", {"$toDouble": "$user_id"}]},
              "slots": {"$addToSet": {"$mod": ["$user_id", 4]},
                        "window": {"documents": ["unbounded", "current"]}}}}},
          {"$project": {"event_id": 1,
                        "sdp": {"$round": ["$sdp", 4]},
                        "sds": {"$round": ["$sds", 4]},
                        "cvp": {"$round": ["$cvp", 2]},
                        "cvs": {"$round": ["$cvs", 2]},
                        "slots": {"$reduce": {
                          "input": "$slots", "initialValue": "",
                          "in": {"$concat": ["$$value", ",",
                                             {"$toString": "$$this"}]}}}}}]""")),
    // $setWindowFields calculus family: $derivative (slope across the
    // frame, per time unit) and $integral (cumulative trapezoid area)
    // $derivative/$integral take EXACTLY ONE sortBy field (it is the
    // x-axis, MongoDB contract) — so on data with TIED ts values the
    // result is order-dependent in MongoDB and here alike; the compare
    // is only meaningful where ts is unique per partition (true for the
    // driver tables; a 10x replica must nudge ts per copy)
    "q_window_calc" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"ts": 1},
            "output": {
              "slope": {"$derivative": {"input": "$value", "unit": "second"},
                        "window": {"documents": [-3, "current"]}},
              "area": {"$integral": {"input": "$value", "unit": "second"},
                       "window": {"documents": ["unbounded", "current"]}}}}},
          {"$project": {"event_id": 1,
                        "slope": {"$round": ["$slope", 4]},
                        "area": {"$round": ["$area", 2]}}}]""")),
    // windowed N-family: $minN/$lastN/$top over document frames (modern MQL
    // window operators, beyond the group accumulators)
    "q_window_nfamily" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$setWindowFields": {
            "partitionBy": "$event_type", "sortBy": {"ts": 1, "event_id": 1},
            "output": {
              "min3": {"$minN": {"input": "$value", "n": 3},
                       "window": {"documents": ["unbounded", "current"]}},
              "last2": {"$lastN": {"input": "$event_id", "n": 2},
                        "window": {"documents": [-3, "current"]}},
              "topv": {"$top": {"output": "$event_id",
                                "sortBy": {"value": -1, "event_id": 1}},
                       "window": {"documents": ["unbounded", "current"]}}}}},
          {"$project": {"event_id": 1,
                        "m1": {"$arrayElemAt": ["$min3", 0]},
                        "m2": {"$arrayElemAt": ["$min3", 1]},
                        "m3": {"$arrayElemAt": ["$min3", 2]},
                        "la": {"$arrayElemAt": ["$last2", 0]},
                        "lb": {"$arrayElemAt": ["$last2", 1]},
                        "topv": 1}}]""")),
    // $setWindowFields range frames: value-based bounds on a numeric sort
    // key (all ties enter the frame together)
    "q_window_range" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"value": 1},
            "output": {
              "near_sum": {"$sum": "$value", "window": {"range": [-50, "current"]}},
              "near_n": {"$count": {}, "window": {"range": [-50, "current"]}}}}},
          {"$project": {"event_id": 1,
                        "near_sum": {"$round": ["$near_sum", 2]},
                        "near_n": 1}}]""")),
    // $linearFill (interpolate nulls along the sort axis) + $expMovingAvg
    // (cumulative exponential moving average, N=5)
    "q_window_fill" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$addFields": {"v": {"$cond": [
            {"$eq": [{"$mod": ["$user_id", 10]}, 0]}, null, "$value"]}}},
          {"$setWindowFields": {
            "partitionBy": "$event_type",
            "sortBy": {"event_id": 1},
            "output": {
              "filled": {"$linearFill": "$v"},
              "last_seen": {"$locf": "$v"},
              "ema": {"$expMovingAvg": {"input": "$v", "N": 5}}}}},
          {"$project": {"event_id": 1, "filled": 1, "last_seen": 1,
                        "ema": 1}}]""")),
    // batch-only MQL stages (the reference's unbounded streams exclude them)
    "q_sort_limit" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$sort": {"value": -1, "event_id": 1}}, {"$limit": 100},
          {"$project": {"event_id": 1, "value": 1}}]""")),
    "q_sortbycount" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$sortByCount": "$event_type"}]""")),
    // $graphLookup: per-order BFS over customer via custkey -> nationkey
    // chains, first-visit depth recorded; flattened for the oracle
    "q_graph_lookup" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$graphLookup": {"from": "customer", "startWith": "$o_custkey",
            "connectFromField": "c_nationkey", "connectToField": "c_custkey",
            "as": "chain", "maxDepth": 3, "depthField": "d"}},
          {"$unwind": "$chain"},
          {"$project": {"o_orderkey": 1, "ck": "$chain.c_custkey",
                        "d": "$chain.d"}}]""")),
    // $bucketAuto: 8 even-count buckets along the sorted price axis
    "q_bucket_auto" -> ((s, dir) => pipe(s, dir, "lineitem",
      """[{"$bucketAuto": {"groupBy": "$l_extendedprice", "buckets": 8,
            "output": {"n": {"$sum": 1}, "qty": {"$sum": "$l_quantity"}}}},
          {"$project": {"_id": 0, "lo": "$_id.min", "hi": "$_id.max",
                        "n": 1, "qty": {"$round": ["$qty", 2]}}}]""")),
    "q_unionwith" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$project": {"event_id": 1}},
          {"$unionWith": {"coll": "nation",
            "pipeline": [{"$project": {"event_id": "$n_nationkey"}}]}}]""")),
    // $search (Atlas text operator): BM25 relevance, matches only
    "q_search" -> ((s, dir) => pipe(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark merge", "path": "text"}}},
          {"$project": {"doc_id": 1,
            "sc": {"$round": [{"$meta": "searchScore"}, 6]}}}]""")),
    // $rankFusion: weighted RRF of two bounded selection pipelines. BOTH
    // sub-pipeline sorts carry the o_orderkey tiebreak: replicas duplicate
    // prices verbatim, so an untiebroken top-40 cut picks arbitrary copies
    // and the RRF ranks of equal-price rows diverge (sf10 sweep find, r13)
    "q_rank_fusion" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$addFields": {"_id": "$o_orderkey"}},
          {"$rankFusion": {"input": {"pipelines": {
             "price": [{"$match": {"o_orderstatus": "F"}},
                       {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                       {"$limit": 40}],
             "date":  [{"$sort": {"o_orderdate": 1, "o_orderkey": 1}},
                       {"$limit": 40}]}},
            "combination": {"weights": {"price": 2, "date": 1}}}},
          {"$project": {"_id": 1,
            "score": {"$round": [{"$meta": "score"}, 6]}}}]""")),
    // $scoreFusion (Mongo 8.1 score flavor) + $score (8.2): per-pipeline
    // minMax normalization, weighted sum / nPipelines, absent docs
    // contribute 0 — every score is a pure function of the row, so DuckDB
    // replays the whole fusion
    "q_score_fusion" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$addFields": {"_id": "$o_orderkey"}},
          {"$scoreFusion": {"input": {"pipelines": {
             "price": [{"$match": {"o_orderstatus": "F"}},
                       {"$score": {"score": "$o_totalprice"}}],
             "prio":  [{"$score": {"score": {"$strLenCP": "$o_orderpriority"}}}]},
             "normalization": "minMaxScaler"},
            "combination": {"weights": {"price": 2, "prio": 1}}}},
          {"$project": {"_id": 1,
            "score": {"$round": [{"$meta": "score"}, 6]}}}]""")),
    "q_dynamic_scorefusion" -> ((s, dir) => {
      val docs = t(s, dir, "orders").select(to_json(struct(
        col("o_orderkey").as("_id"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"), col("o_orderpriority").as("prio")))
        .as("doc"))
      val out = graft.dynamic.DynPipeline.run(docs,
        """[{"$scoreFusion": {"input": {"pipelines": {
              "price": [{"$match": {"st": "F"}},
                        {"$score": {"score": "$price"}}],
              "prio":  [{"$score": {"score": {"$strLenCP": "$prio"}}}]},
              "normalization": "minMaxScaler"},
             "combination": {"weights": {"price": 2, "prio": 1}}}},
            {"$project": {"_id": 1,
              "score": {"$round": [{"$meta": "score"}, 6]}}}]""")
      out.select(
        get_json_object(col("doc"), "$._id").cast("long").as("_id"),
        get_json_object(col("doc"), "$.score").cast("double").as("score"))
    }),
    // $documents entry stage + collection-less $unionWith (Mongo 6)
    "q_documents" -> ((s, dir) => pipe(s, dir, "nation",
      """[{"$project": {"k": "$n_nationkey", "name": "$n_name", "_id": 0}},
          {"$unionWith": {"pipeline": [{"$documents": [
             {"k": 100, "name": "alpha"}, {"k": 101, "name": "beta"}]}]}},
          {"$addFields": {"kk": {"$multiply": ["$k", 10]}}}]""")),
    // $densify: missing user slots per event type generated as stub rows
    "q_densify" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$project": {"event_id": 1, "event_type": 1,
                        "slot": {"$mod": ["$user_id", 50]}}},
          {"$densify": {"field": "slot", "partitionByFields": ["event_type"],
                        "range": {"step": 1, "bounds": [0, 50]}}},
          {"$project": {"event_id": 1, "event_type": 1, "slot": 1}}]""")),
    // $densify date unit: day grid over the sparse high-price order dates
    "q_densify_date" -> ((s, dir) => pipe(s, dir, "orders",
      """[{"$match": {"$expr": {"$gt": ["$o_totalprice", 450000]}}},
          {"$project": {"d": "$o_orderdate", "_id": 0}},
          {"$densify": {"field": "d",
                        "range": {"step": 1, "unit": "day", "bounds": "full"}}}]""")),
    // $fill locf: every third event's value nulled, then carried forward
    "q_fill" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$addFields": {"v": {"$cond": [
            {"$eq": [{"$mod": ["$event_id", 3]}, 0]}, null, "$value"]}}},
          {"$fill": {"partitionBy": "$event_type",
                     "sortBy": {"ts": 1, "event_id": 1},
                     "output": {"v": {"method": "locf"}}}},
          {"$project": {"event_id": 1, "v": 1}}]""")),
    // $top/$bottom: per type, the value of the newest/oldest event
    // (event_id tie-break keeps equal timestamps deterministic)
    "q_group_top" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$group": {"_id": "$event_type",
            "latest": {"$top": {"output": "$value",
                                "sortBy": {"ts": -1, "event_id": -1}}},
            "earliest": {"$bottom": {"output": "$value",
                                     "sortBy": {"ts": -1, "event_id": -1}}}}}]""")),
    // modern-MQL group accumulators through the pipeline compiler
    "q_group_median" -> ((s, dir) => pipe(s, dir, "events",
      """[{"$group": {"_id": "$event_type",
            "med": {"$median": {"input": "$value"}},
            "sd": {"$stdDevSamp": "$value"}}},
          {"$project": {"_id": 1, "med": {"$round": ["$med", 5]},
                        "sd": {"$round": ["$sd", 5]}}}]""")),
    // exact linear-interpolation percentiles per event type (round 5: the
    // true values have <= 4 exact decimals, so the grid contains them)
    "q_percentiles" -> ((s, dir) => {
      tune(s)
      t(s, dir, "events").groupBy("event_type").agg(
        round(percentile(col("value"), lit(0.5)), 5).as("p50"),
        round(percentile(col("value"), lit(0.9)), 5).as("p90"),
        round(percentile(col("value"), lit(0.99)), 5).as("p99"))
    }),
  )

  /** Queries checked ONLY by the local strict gate, never shown to the
    * driver (round-13; was in [[queries]]): the driver's pandas comparator
    * CRASHES sorting nested struct/array cells (unhashable numpy.ndarray —
    * CORRECTNESS_r12 `q_negzero_nested` err), it does not degrade to
    * rows-only. Hard rule (FIXTURES.md): driver-visible queries emit FLAT,
    * pandas-sortable schemas — scalars only at top level. Verify dumps
    * these to the SIBLING dir `<outDir>.local/` so no driver enumeration
    * of outDir can ever see them (r13: even a `__local/` SUBdir was
    * globbed as a pseudo-query);
    * tools/check_oracle.py pairs them with [[localOracleSql]]. */
  def localQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // round-12: planted nested -0.0 fixture. The struct / array<struct>
    // doubles round to IEEE -0.0 in DuckDB (Spark's BigDecimal round emits
    // +0.0), so its strict oracle is green ONLY through Verify's deep
    // canonicalization — a regression there goes red in the local gate
    // instead of on some future nested-float query.
    "q_negzero_nested" -> ((s, dir) => {
      tune(s)
      t(s, dir, "lineitem").groupBy(col("l_returnflag").as("flag")).agg(
        struct(
          round(sum(col("l_quantity")) * lit(-1e-18), 6).as("tiny"),
          round(count(lit(1)).cast("double"), 6).as("cnt")).as("stats"),
        array(struct(
          round(max(col("l_tax")) * lit(-1e-15), 6).as("t"))).as("arr"))
    }),
  )

  /** Merge rounds for the BPE oracle pair. */
  private val bpeM = 6

  /** The 6-merge BPE train shared by llm_bpe_merges/encode/fertility and
    * llm_wordpiece (r16, [[shared]]): four byte-identical training loops
    * collapse to one — each query's oracle still replays the full loop. */
  private def sharedBpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    shared(s, dir, "bpe") {
      graft.llm.BpeOps.train(t(s, dir, "documents"), "text", bpeM)
    }

  /** The unigram-LM piece table collect shared by llm_unigram_tok/_em/_em2/
    * _em_ll (r16, [[shared]]): one train, one collect; each caller derives
    * its own (piece → logp / weight) view from the same rows. */
  private def unigramTrainRows(s: SparkSession, dir: String)
      : Array[(String, Long, Double)] =
    shared(s, dir, "umtrain") {
      import s.implicits._
      graft.llm.UnigramOps.train(t(s, dir, "documents"), "text", umL,
        umMinFrac.toDouble)
        .select("piece", "weight", "logp").as[(String, Long, Double)].collect()
    }
  /** Initial unigram model (renormalized train weights) — the identical
    * map every caller used to rebuild from its own collect. */
  private def unigramProbs0(s: SparkSession, dir: String): Map[String, Double] =
    shared(s, dir, "umprobs0") {
      val pw = unigramTrainRows(s, dir)
      val tw = pw.map(_._2).sum
      pw.map { case (p, w, _) => p -> (w.toDouble / tw) }.toMap
    }
  /** Round-1 EM model: expected counts under probs0, renormalized (BigInt
    * fold — ecq is DECIMAL(38,0); integer-valued BigInt.toDouble ==
    * Long.toDouble keeps the divisions IEEE-identical to the old path).
    * Shared by llm_unigram_em2 and llm_unigram_em_ll. */
  private def unigramProbs1(s: SparkSession, dir: String): Map[String, Double] =
    shared(s, dir, "umprobs1") {
      import s.implicits._
      val ec1 = graft.llm.UnigramOps.expectedCounts(
          t(s, dir, "documents"), "text", unigramProbs0(s, dir), umL)
        .as[(String, java.math.BigDecimal)].collect()
        .map { case (p, e) => (p, BigInt(e.toBigInteger)) }
      val t1 = ec1.map(_._2).sum
      ec1.map { case (p, e) => p -> (e.toDouble / t1.toDouble) }.toMap
    }

  /** Shared CTE prefix for the quality oracles: per-doc features (f1)
    * and the composite score q (f, UNROUNDED — callers round). Carries
    * source/lang for per-source rollups. */
  private def qualitySql(select: String): String =
    """WITH b AS (
           SELECT doc_id, source, lang, text, length(text) AS nc,
                  list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> length(t) > 0) AS toks
           FROM documents),
         f1 AS (
           SELECT doc_id, source, lang, nc, len(toks) AS nt,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
               ELSE 0 END AS mwl,
             CASE WHEN nc > 0 THEN
               CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / nc
               ELSE 0 END AS pr,
             CASE WHEN nc > 0 THEN
               CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / nc
               ELSE 0 END AS ur,
             CASE WHEN nc > 0 THEN
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / nc
               ELSE 0 END AS dr,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(list_transform(toks, t -> lower(t)),
                 t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS DOUBLE) / len(toks)
               ELSE 0 END AS sr
           FROM b),
         f AS (
           SELECT *, least(CAST(nt AS DOUBLE) / 100, 1) * 0.3 +
                     greatest(0, 1 - (pr + dr + ur)) * 0.4 +
                     least(sr * 4, 1) * 0.3 AS q
           FROM f1)
         """ + select

  /** Generated CTE chain replaying the FULL logistic-GD fit on top of
    * [[qualitySql]]'s feature CTEs: rounded feature vector `fx`, train
    * slice `tr`, then per round r a sigmoid pass `p_r`, gradient sums
    * `g_r` and the quantized weight update `w_r` (the BPE/EM
    * training-loop-replay style). `select` continues the chain with a
    * leading comma or a SELECT reading the `w_r` / `fx` CTEs. */
  private def logRegSql(rounds: Int, select: String): String = {
    val z = (0 to 5).map(j => s"w.w$j * x$j").mkString(" + ")
    val sb = new StringBuilder
    sb.append(
      """, fx AS (
           SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                  1.0 AS x0,
                  round(least(CAST(nt AS DOUBLE) / 100, 1), 6) AS x1,
                  round(pr, 6) AS x2, round(ur, 6) AS x3,
                  round(dr, 6) AS x4, round(sr, 6) AS x5
           FROM f),
         tr AS (SELECT * FROM fx WHERE doc_id % 3 = 0),
         w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                       0.0 AS w3, 0.0 AS w4, 0.0 AS w5)""")
    for (r <- 1 to rounds) {
      // per-example contributions quantized to 1e9-scaled integers before
      // the sums — exact aggregates, summation-order-free (mirrors
      // CorpusOps.logRegFit's qsum)
      val gs = (0 to 5).map(j =>
        s"""CAST(sum(CAST(round(((p - y) * x$j) * 1e9, 0) AS BIGINT))
              AS DOUBLE) / 1e9 AS g$j""").mkString(", ")
      val ws = (0 to 5)
        .map(j => s"round(w.w$j - 1.0 * g.g$j / g.n, 9) AS w$j").mkString(", ")
      sb.append(s""",
         p$r AS MATERIALIZED (
           SELECT t.y, t.x0, t.x1, t.x2, t.x3, t.x4, t.x5,
                  1.0 / (1.0 + exp(-($z))) AS p
           FROM tr t, w${r - 1} w),
         g$r AS MATERIALIZED (
           SELECT $gs,
                  CAST(sum(CAST(round((-(y * ln(p) + (1.0 - y) * ln(1.0 - p)))
                        * 1e9, 0) AS BIGINT)) AS DOUBLE) / 1e9 AS lsum,
                  CAST(count(*) AS DOUBLE) AS n
           FROM p$r),
         w$r AS (SELECT $ws, round(g.lsum / g.n, 4) AS loss
                 FROM w${r - 1} w, g$r g)""")
    }
    qualitySql(sb.result() + select)
  }

  /** Shared generated CTE chain for the NN-Descent graph oracles: md5
    * random k-out init (tp/e0) and both build rounds (e1/e2, k=5,
    * maxRev=10) — `select` reads FROM e2 (the final graph) or continues
    * the WITH chain (leading comma). */
  /** DuckDB VALUES rows `(band, bit, plane)` for the hyperplane-LSH plane
    * sets of [[graft.llm.VectorOps.embedNearDupLsh]] — the planes are
    * driver-side seeded `java.util.Random` gaussians embedded as LITERALS
    * in the Spark plan too, so rendering them through `Double.toString`
    * (shortest round-tripping decimal) reproduces the exact same doubles
    * in the oracle. Sign-of-dot replays bit-for-bit because both engines
    * fold the inner product in index order (the llm_embed_neardup /
    * llm_cosine_topk precedent). */
  private def lshPlanesValues(nPlanes: Int, dim: Int, bands: Int,
      withBand: Boolean = true): String =
    (0 until bands).flatMap { bd =>
      graft.llm.VectorOps.planes(nPlanes, dim, 42L + bd * nPlanes)
        .zipWithIndex.map { case (p, i) =>
          val cols = if (withBand) s"$bd, $i" else s"$i"
          s"($cols, [${p.mkString(", ")}])"
        }
    }.mkString(",\n           ")

  /** Generated beam-search replay over the e2 NN-Descent graph (the
    * llm_ann_graph family): expand every beam member's neighbors, score,
    * keep top-beam per query, 2 rounds, beam 10, k 5, entries 8.
    * `qidPred` selects the query slice — llm_ann_graph and
    * llm_ann_graph_served replay the SAME inline build+search with
    * different slices, both serving from one persisted graphSave build on
    * the Spark side (persistence parity is exactly this equality). */
  private def annGraphSearchSql(qidPred: String): String = knnGraphSql({
    val mask = "9223372036854775807"
    def sround(r: Int, prev: String): String =
      s"""gc$r AS (SELECT DISTINCT b.qid, g.nbr AS id
           FROM $prev b JOIN e2 g ON g.src = b.id),
         gs$r AS (SELECT c.qid, c.id, list_inner_product(q.q, n2.v) AS sim
           FROM gc$r c JOIN qv q ON q.qid = c.qid JOIN nn n2 ON n2.id = c.id),
         gm$r AS (SELECT qid, id, sim FROM $prev
                  UNION SELECT qid, id, sim FROM gs$r),
         gb$r AS (SELECT qid, id, sim FROM (
           SELECT qid, id, sim, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, id) AS rr FROM gm$r) WHERE rr <= 10)"""
    s""", qv AS (SELECT id AS qid, v AS q FROM nn WHERE $qidPred),
       ent AS (SELECT id FROM nn
         ORDER BY (md5_number_lower('gse:' || CAST(id AS VARCHAR)) & $mask),
           id
         LIMIT 8),
       gs0 AS (SELECT qv.qid, n2.id, list_inner_product(qv.q, n2.v) AS sim
         FROM qv CROSS JOIN ent JOIN nn n2 ON n2.id = ent.id),
       gb0 AS (SELECT qid, id, sim FROM (
         SELECT qid, id, sim, row_number() OVER (PARTITION BY qid
             ORDER BY sim DESC, id) AS rr FROM gs0) WHERE rr <= 10),
       ${sround(1, "gb0")},
       ${sround(2, "gb1")}
       SELECT qid AS query_id, id AS nn_id, round(sim, 6) AS sim,
              CAST(rr AS INT) AS rank
       FROM (SELECT qid, id, sim, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, id) AS rr FROM gb2 WHERE id <> qid)
       WHERE rr <= 5"""
  }, sample = 8)

  private def knnGraphSql(select: String, sample: Int = 0): String = {
      // generated: both NN-Descent rounds unrolled as CTEs — md5 random
      // k-out init, capped reverse edges, (optionally ρ-sampled) local
      // join, per-node top-k — the same full-training-loop replay style
      // as llm_bpe_merges. `sample` mirrors VectorOps.knnGraph's join-list
      // sampling (round-salted md5 rank, cap `sample` per node).
      val mask = "9223372036854775807"
      def round(r: Int, prev: String): String = {
        val uSel =
          if (sample <= 0)
            s"""u$r AS (SELECT src, nbr FROM $prev
                 UNION SELECT src, nbr FROM rev$r WHERE rrk <= 10)"""
          else
            s"""ua$r AS (SELECT src, nbr FROM $prev
                 UNION SELECT src, nbr FROM rev$r WHERE rrk <= 10),
         u$r AS (SELECT src, nbr FROM (
                   SELECT src, nbr, row_number() OVER (PARTITION BY src
                     ORDER BY (md5_number_lower('knnu:$r:'
                       || CAST(src AS VARCHAR) || ':'
                       || CAST(nbr AS VARCHAR)) & $mask), nbr) AS urk
                   FROM ua$r) WHERE urk <= $sample)"""
        s"""rev$r AS (
           SELECT e.nbr AS src, e.src AS nbr,
             row_number() OVER (PARTITION BY e.nbr ORDER BY
               (md5_number_lower('knnr:' || CAST(e.nbr AS VARCHAR) || ':' ||
                  CAST(e.src AS VARCHAR)) & $mask), e.src) AS rrk
           FROM $prev e),
         $uSel,
         c$r AS (SELECT DISTINCT src, cand FROM (
                   SELECT a.src AS src, b.nbr AS cand
                   FROM u$r a JOIN u$r b ON a.nbr = b.src
                   UNION ALL SELECT src, nbr FROM $prev)
                 WHERE src <> cand),
         s$r AS (SELECT c.src, c.cand, list_inner_product(ns.v, nc.v) AS sim
                 FROM c$r c JOIN nn ns ON ns.id = c.src
                            JOIN nn nc ON nc.id = c.cand),
         e$r AS (SELECT src, cand AS nbr, sim, rnk FROM (
                   SELECT src, cand, sim,
                     row_number() OVER (PARTITION BY src
                                        ORDER BY sim DESC, cand) AS rnk
                   FROM s$r) WHERE rnk <= 5)"""
      }
      s"""WITH u0 AS (
           SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         nn AS (
           SELECT id, CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u0),
         rk AS (
           SELECT id, row_number() OVER (ORDER BY
               (md5_number_lower('knng:' || CAST(id AS VARCHAR)) & $mask),
               id) AS pos,
             count(*) OVER () AS cnt
           FROM nn),
         tp AS (
           -- materialize the target position BEFORE the rk probe: phrased
           -- as a 3-way comma join with the position inside the WHERE,
           -- DuckDB nested-loops rk x rk (quadratic — ~50B compares at
           -- sf1); as a derived column it is a clean hash equi-join
           SELECT a.id, ((a.pos - 1 + 1 +
               ((md5_number_lower('knns:' || CAST(a.pos AS VARCHAR) || ':' ||
                   CAST(j.range AS VARCHAR)) & $mask) % (a.cnt - 1)))
               % a.cnt) + 1 AS tpos
           FROM rk a, range(1, 6) j),
         e0 AS (
           SELECT DISTINCT t.id AS src, b.id AS nbr
           FROM tp t JOIN rk b ON b.pos = t.tpos
           WHERE t.id <> b.id),
         ${round(1, "e0")},
         ${round(2, "e1")}
         """ + select
    }

  /** Shared CTE prefix for the Naive-Bayes oracles: tokenized docs (d),
    * labeled slice (lab), hashed-bucket class histograms, Laplace
    * log-likelihood ratios (llr) and per-doc logits (sc). The `select`
    * either reads FROM sc or continues the WITH chain (leading comma). */
  private def nbScoreSql(select: String): String =
    """WITH d AS (
           SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS toks
           FROM documents),
         lab AS (SELECT doc_id, (lang = 'en') AS y, toks FROM d
                 WHERE doc_id % 3 = 0),
         ex AS (
           SELECT y,
             CAST((md5_number_lower(g.u) & 9223372036854775807) % 64 AS INT) AS b
           FROM lab, unnest(toks) AS g(u)),
         hp AS (SELECT b, count(*) AS c FROM ex WHERE y GROUP BY 1),
         hn AS (SELECT b, count(*) AS c FROM ex WHERE NOT y GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM ex WHERE y) + 64 AS tp,
                        (SELECT count(*) FROM ex WHERE NOT y) + 64 AS tn,
                        (SELECT count(*) FROM lab WHERE y) AS np,
                        (SELECT count(*) FROM lab WHERE NOT y) AS nn),
         llr AS (
           SELECT r.range AS b,
             CAST(round((ln((COALESCE(hp.c, 0) + 1.0) / tot.tp)
               - ln((COALESCE(hn.c, 0) + 1.0) / tot.tn)) * 1e9, 0)
               AS BIGINT) AS lrq
           FROM range(0, 64) r
           LEFT JOIN hp ON hp.b = r.range
           LEFT JOIN hn ON hn.b = r.range, tot),
         sc AS (
           SELECT d.doc_id, CAST(len(d.toks) AS INT) AS n_tokens,
             CAST(CAST(round(ln(CAST(tot.np AS DOUBLE) / tot.nn) * 1e9, 0)
                    AS BIGINT)
               + COALESCE((SELECT sum(llr.lrq) FROM unnest(d.toks) AS g(u)
                 JOIN llr ON llr.b =
                   CAST((md5_number_lower(g.u) & 9223372036854775807) % 64 AS INT)),
                 0) AS DOUBLE) / 1e9 AS logit
           FROM d, tot)
         """ + select

  /** Shared CTE prefix for the URL-canonicalization oracles: synthUrl's
    * four messy variants (u) → fragment strip (c) → parse (p) → canonical
    * reassembly (k, columns doc_id/url/canon_url), mirroring
    * TextOps.synthUrl/canonicalizeUrl step for step. */
  private def urlCanonSql(select: String): String =
    s"""WITH u AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'https://WWW.' || upper(host)
                || '/articles/' || pg || '?id=' || pg
                || '&utm_source=feed&utm_medium=rss'
              WHEN 1 THEN 'https://www.' || host || ':443/articles/'
                || pg || '?ref=hp&id=' || pg
              WHEN 2 THEN 'HTTPS://' || host || '/articles/' || pg
                || '?utm_campaign=x&id=' || pg || '#section-2'
              ELSE 'https://' || host || '/articles/' || pg
                || '?id=' || pg || '&gclid=abc123'
            END AS url
          FROM (SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS pg,
                       'site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                         || '.example.com' AS host FROM documents)),
        c AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nf FROM u),
        p AS (
          SELECT doc_id, url,
            lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_extract(nf,
              '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
            regexp_extract(nf,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
            regexp_extract(nf, '\\?([^#]*)', 1) AS q0
          FROM c),
        k AS (
          SELECT doc_id, url,
            scheme || '://' ||
            regexp_replace(
              CASE WHEN scheme = 'http'  THEN regexp_replace(auth, ':80$$', '')
                   WHEN scheme = 'https' THEN regexp_replace(auth, ':443$$', '')
                   ELSE auth END, '^www\\.', '') ||
            CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
            CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END AS canon_url
          FROM (SELECT *,
                  array_to_string(list_sort(list_filter(string_split(q0, '&'),
                    x -> length(x) > 0 AND NOT regexp_matches(x,
                      '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)(=|$$)'))),
                    '&') AS q
                FROM p))
        $select"""

  /** DuckDB replay of BPE TRAINING: round k = weighted-pair argmax (CTE
    * b_k, same (weight desc, pair asc) tie-break as BpeOps.train) + merge
    * application (CTE t_k) as the identical left-to-right fold — `reduce`
    * with a list accumulator mirrors BpeOps.applyMerge, so a fresh merge
    * can never chain into the pair that produced it. */
  private def bpeRoundsSql(m: Int): String = {
    val sb = new StringBuilder(
      """WITH w0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                       q -> len(q) > 0)) AS w
             FROM documents) GROUP BY w),
         t0 AS (SELECT string_split(w, '') AS toks, cnt FROM w0)""")
    for (k <- 1 to m) sb.append(s""",
         b$k AS (SELECT pl AS l, pr AS r FROM (
             SELECT p[1] AS pl, p[2] AS pr, sum(cnt) AS wt
             FROM (SELECT unnest(list_zip(toks, toks[2:])) AS p, cnt
                   FROM t${k - 1})
             WHERE p[2] IS NOT NULL GROUP BY 1, 2)
           ORDER BY wt DESC, pl, pr LIMIT 1),
         t$k AS (SELECT reduce(list_transform(toks, x -> [x]),
               (acc, x) -> CASE WHEN acc[-1] = b$k.l AND x[1] = b$k.r
                           THEN acc[:len(acc)-1] || [b$k.l || b$k.r]
                           ELSE acc || x END) AS toks, cnt
           FROM t${k - 1}, b$k)""")
    sb.toString
  }

  private def bpeMergesSql: String =
    bpeRoundsSql(bpeM) + "\n" + (1 to bpeM).map(k =>
      s"SELECT CAST($k AS INT) AS rank, l, r FROM b$k")
      .mkString("\n UNION ALL ")

  /** Encode oracle: re-derives the merges (same CTE prefix), then applies
    * all m folds nested per word of each document. */
  private def bpeEncodeSql: String = {
    def fold(k: Int): String =
      if (k == 0) "string_split(w, '')"
      else s"""reduce(list_transform(${fold(k - 1)}, x$k -> [x$k]),
          (a$k, y$k) -> CASE WHEN a$k[-1] = b$k.l AND y$k[1] = b$k.r
                        THEN a$k[:len(a$k)-1] || [b$k.l || b$k.r]
                        ELSE a$k || y$k END)"""
    bpeRoundsSql(bpeM) + s"""
       SELECT doc_id, CAST(list_sum(list_transform(
           list_filter(string_split_regex(text, '\\s+'), q -> len(q) > 0),
           w -> len(${fold(bpeM)}))) AS INT) AS n_tok
       FROM documents, ${(1 to bpeM).map("b" + _).mkString(", ")}"""
  }

  private val umL = 4        // unigram-LM max piece length
  private val umMinFrac = "0.05" // relative pruning threshold (chars exempt)
  private val umMaxW = 12    // DP unroll depth ≥ max corpus word length

  /** DuckDB replay of unigram-LM tokenization: the piece table (substring
    * occurrence weights, pruned, ln-normalized over the kept mass) and the
    * per-word Viterbi as an UNROLLED position chain a1..a{umMaxW} —
    * position j's candidates come from the ≤umL predecessor tables, the
    * winner by (score desc, last-piece length desc), exactly
    * [[graft.llm.UnigramOps.viterbiWord]]'s tie rule. Words the inventory
    * cannot segment (none here: single chars are exempt from pruning)
    * would fall out of `wbest` and count as one UNK. */
  /** Shared langid replay: stopword votes per language, argmax with the
    * fixed de/en/es/fr/it precedence, 'und' when no list hits. */
  private def langidPredSql: String =
    """WITH scored AS (
         SELECT doc_id,
           list_transform(list_filter(regexp_split_to_array(trim(text), '\s+'),
                          t -> length(t) > 0), t -> lower(t)) AS toks
         FROM documents),
       s2 AS (
         SELECT doc_id,
           CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','mit','ein','zu','den'], t))) AS INT) AS s_de,
           CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS INT) AS s_en,
           CAST(len(list_filter(toks, t -> list_contains(['el','la','los','las','y','de','que','es','un','para'], t))) AS INT) AS s_es,
           CAST(len(list_filter(toks, t -> list_contains(['le','la','les','et','de','un','une','est','que','pour'], t))) AS INT) AS s_fr,
           CAST(len(list_filter(toks, t -> list_contains(['il','la','che','di','e','un','una','per','non','sono'], t))) AS INT) AS s_it
         FROM scored),
       pred AS (
         SELECT doc_id,
           CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_it) = 0 THEN 'und'
                WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_it) THEN 'de'
                WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_it) THEN 'en'
                WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_it) THEN 'es'
                WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_it) THEN 'fr'
                ELSE 'it' END AS lang_pred
         FROM s2)"""

  /** Shared CTE prefix for the unigram-LM oracles: distinct words,
    * substring enumeration, the pruned piece table and its total mass. */
  private def unigramBaseSql: String =
    s"""w0 AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                       q -> len(q) > 0)) AS w
             FROM documents) GROUP BY w),
         p0 AS (SELECT w, cnt, unnest(generate_series(1, length(w))) AS i
                FROM w0),
         p1 AS (SELECT w, cnt, i,
                  unnest(generate_series(1,
                    least($umL, length(w) - i + 1))) AS l
                FROM p0),
         pcw AS (SELECT substr(w, i, l) AS piece,
                        CAST(sum(cnt) AS BIGINT) AS weight
                 FROM p1 GROUP BY 1),
         pc AS (SELECT * FROM pcw
                WHERE weight >= $umMinFrac * (SELECT sum(cnt) FROM w0)
                   OR length(piece) = 1),
         tot AS (SELECT sum(weight) AS t FROM pc)"""

  private def unigramTokSql: String = {
    val sb = new StringBuilder(
      s"""WITH $unigramBaseSql,
         pieces AS MATERIALIZED (
                    SELECT piece, ln(CAST(weight AS DOUBLE) / t) AS lp
                    FROM pc CROSS JOIN tot),
         a0 AS MATERIALIZED (
                SELECT w, CAST(0 AS DOUBLE) AS best, 0 AS cnt FROM w0)""")
    for (j <- 1 to umMaxW) {
      val branches = (1 to math.min(umL, j)).map { l =>
        s"""SELECT a.w, a.best + pc.lp AS s, a.cnt + 1 AS c, $l AS l
            FROM a${j - l} a JOIN pieces pc
              ON pc.piece = substr(a.w, ${j - l + 1}, $l)
            WHERE length(a.w) >= $j"""
      }.mkString(" UNION ALL ")
      sb.append(s""",
         c$j AS ($branches),
         a$j AS MATERIALIZED (SELECT w, s AS best, c AS cnt FROM (
             SELECT w, s, c, row_number() OVER (
               PARTITION BY w ORDER BY s DESC, l DESC) AS rn FROM c$j)
           WHERE rn = 1)""")
    }
    sb.append(s""",
         wbest AS (${(1 to umMaxW).map(j =>
           s"SELECT w, best, cnt FROM a$j WHERE length(w) = $j")
           .mkString(" UNION ALL ")}),
         dw AS (SELECT doc_id,
                  unnest(list_filter(string_split_regex(text, '\\s+'),
                                     q -> len(q) > 0)) AS w
                FROM documents),
         per AS (SELECT dw.doc_id,
                   sum(CASE WHEN b.w IS NULL THEN 1 ELSE b.cnt END) AS np,
                   sum(CASE WHEN b.w IS NULL THEN 1 ELSE 0 END) AS nu,
                   sum(CASE WHEN b.w IS NULL THEN 0.0 ELSE b.best END) AS lp
                 FROM dw LEFT JOIN wbest b USING (w) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(p.np, 0) AS INT) AS n_pieces,
                round(coalesce(p.lp, 0.0), 4) AS logp,
                CAST(coalesce(p.nu, 0) AS INT) AS n_unk
         FROM documents d LEFT JOIN per p USING (doc_id)""")
    sb.toString
  }

  /** DuckDB replay of one unigram-LM EM round: forward (al*) and
    * backward (g*, indexed by chars-remaining) sum-product lattices as
    * unrolled CTE chains whose per-position sums add candidate terms in
    * ascending piece-length order with left-assoc float addition —
    * exactly [[graft.llm.UnigramOps.wordExpectedCounts]] — then the
    * per-occurrence expected counts ((α·p)·β)/Z aggregated per piece and
    * renormalized. */
  /** One E-step's CTE block: α (al{sfx}*) and β (g{sfx}*, indexed by
    * chars-remaining) lattices against the piece table `pieces{sfx}`,
    * ending in `ec{sfx}` (per-piece expected counts) and `tote{sfx}`.
    * Suffixing makes the block chainable for iterated EM. */
  private def emLatticeSql(sfx: String): String = {
    val p = s"pieces$sfx"
    val sb = new StringBuilder(
      s""",
         al${sfx}0 AS MATERIALIZED (
            SELECT w, CAST(1 AS DOUBLE) AS v FROM w0),
         g${sfx}0 AS MATERIALIZED (
            SELECT w, CAST(1 AS DOUBLE) AS v FROM w0)""")
    for (j <- 1 to umMaxW) {
      val ls = 1 to math.min(umL, j)
      val alX = ls.map { l =>
        s"""LEFT JOIN (SELECT a.w, a.v * pc.pr AS v FROM al$sfx${j - l} a
              JOIN $p pc ON pc.piece = substr(a.w, ${j - l + 1}, $l)
              WHERE length(a.w) >= $j) x$l USING (w)"""
      }.mkString("\n            ")
      val alSum = ls.map(l => s"COALESCE(x$l.v, 0)").mkString(" + ")
      val gY = ls.map { l =>
        s"""LEFT JOIN (SELECT g.w, pc.pr * g.v AS v FROM g$sfx${j - l} g
              JOIN $p pc
                ON pc.piece = substr(g.w, length(g.w) - $j + 1, $l)
              WHERE length(g.w) >= $j) y$l USING (w)"""
      }.mkString("\n            ")
      val gSum = ls.map(l => s"COALESCE(y$l.v, 0)").mkString(" + ")
      sb.append(s""",
         al$sfx$j AS MATERIALIZED (
            SELECT b.w, $alSum AS v
            FROM (SELECT w FROM w0 WHERE length(w) >= $j) b
            $alX),
         g$sfx$j AS MATERIALIZED (
            SELECT b.w, $gSum AS v
            FROM (SELECT w FROM w0 WHERE length(w) >= $j) b
            $gY)""")
    }
    sb.append(s""",
         alphaT$sfx AS (${(0 to umMaxW).map(j =>
           s"SELECT w, $j AS pos, v FROM al$sfx$j").mkString(" UNION ALL ")}),
         gammaT$sfx AS (${(0 to umMaxW).map(j =>
           s"SELECT w, $j AS pos, v FROM g$sfx$j").mkString(" UNION ALL ")}),
         zT$sfx AS (SELECT w, v FROM alphaT$sfx WHERE pos = length(w)),
         ec$sfx AS (SELECT pc.piece,
                  sum(CAST(round((p1.cnt * (((aT.v * pc.pr) * gT.v) / z.v))
                        * 1e9, 0) AS BIGINT)) AS ecq
                FROM p1
                JOIN $p pc ON pc.piece = substr(p1.w, p1.i, p1.l)
                JOIN alphaT$sfx aT ON aT.w = p1.w AND aT.pos = p1.i - 1
                JOIN gammaT$sfx gT ON gT.w = p1.w
                  AND gT.pos = length(p1.w) - p1.i - p1.l + 1
                JOIN zT$sfx z ON z.w = p1.w AND z.v > 0
                GROUP BY 1),
         tote$sfx AS (SELECT sum(ecq) AS t FROM ec$sfx)""")
    sb.toString
  }

  private def unigramEmSql: String =
    s"""WITH $unigramBaseSql,
         pieces AS MATERIALIZED (
                    SELECT piece, CAST(weight AS DOUBLE) / t AS pr
                    FROM pc CROSS JOIN tot)""" +
      emLatticeSql("") + """
         SELECT piece, round(CAST(ecq AS DOUBLE) / 1e9, 6) AS e_count,
                round(ln(CAST(ecq AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                  AS logp_new
         FROM ec CROSS JOIN tote"""

  /** Two chained EM rounds: round 2's piece table is round 1's
    * renormalized expected counts (unrounded, exactly what the Spark
    * side feeds back). */
  private def unigramEm2Sql: String =
    s"""WITH $unigramBaseSql,
         pieces AS MATERIALIZED (
                    SELECT piece, CAST(weight AS DOUBLE) / t AS pr
                    FROM pc CROSS JOIN tot)""" +
      emLatticeSql("") + """,
         piecesb AS MATERIALIZED (
                    SELECT piece, CAST(ecq AS DOUBLE) / CAST(t AS DOUBLE)
                             AS pr
                    FROM ec CROSS JOIN tote)""" +
      emLatticeSql("b") + """
         SELECT piece, round(CAST(ecq AS DOUBLE) / 1e9, 6) AS e_count,
                round(ln(CAST(ecq AS DOUBLE) / CAST(t AS DOUBLE)), 6)
                  AS logp_new
         FROM ecb CROSS JOIN toteb"""

  /** Three piece models (MLE, after EM round 1, after round 2) and the
    * corpus log-likelihood of each from the forward lattices' Z values —
    * the monotone flag compares the UNROUNDED sums, as the Spark side
    * does. */
  private def unigramEmLlSql: String =
    s"""WITH $unigramBaseSql,
         pieces AS MATERIALIZED (
                    SELECT piece, CAST(weight AS DOUBLE) / t AS pr
                    FROM pc CROSS JOIN tot)""" +
      emLatticeSql("") + """,
         piecesb AS MATERIALIZED (
                    SELECT piece, CAST(ecq AS DOUBLE) / CAST(t AS DOUBLE)
                             AS pr
                    FROM ec CROSS JOIN tote)""" +
      emLatticeSql("b") + """,
         piecesc AS MATERIALIZED (
                    SELECT piece, CAST(ecq AS DOUBLE) / CAST(t AS DOUBLE)
                             AS pr
                    FROM ecb CROSS JOIN toteb)""" +
      emLatticeSql("c") + """,
         l0 AS (SELECT sum(CAST(round((w0.cnt * ln(z.v)) * 1e9, 0)
                  AS BIGINT)) AS v
                FROM w0 JOIN zT z USING (w) WHERE z.v > 0),
         l1 AS (SELECT sum(CAST(round((w0.cnt * ln(z.v)) * 1e9, 0)
                  AS BIGINT)) AS v
                FROM w0 JOIN zTb z USING (w) WHERE z.v > 0),
         l2 AS (SELECT sum(CAST(round((w0.cnt * ln(z.v)) * 1e9, 0)
                  AS BIGINT)) AS v
                FROM w0 JOIN zTc z USING (w) WHERE z.v > 0)
         SELECT round(CAST(l0.v AS DOUBLE) / 1e9, 4) AS ll0,
                round(CAST(l1.v AS DOUBLE) / 1e9, 4) AS ll1,
                round(CAST(l2.v AS DOUBLE) / 1e9, 4) AS ll2,
                (l1.v >= l0.v AND l2.v >= l1.v) AS monotone
         FROM l0, l1, l2"""

  /** DuckDB replay of the per-language fertility rollup: the
    * [[bpeEncodeSql]] fold per doc, plus word/char counts, grouped. */
  private def bpeFertilitySql: String = {
    def fold(k: Int): String =
      if (k == 0) "string_split(w, '')"
      else s"""reduce(list_transform(${fold(k - 1)}, x$k -> [x$k]),
          (a$k, y$k) -> CASE WHEN a$k[-1] = b$k.l AND y$k[1] = b$k.r
                        THEN a$k[:len(a$k)-1] || [b$k.l || b$k.r]
                        ELSE a$k || y$k END)"""
    bpeRoundsSql(bpeM) + s"""
       SELECT lang, CAST(sum(__t) AS BIGINT) AS n_tokens,
              CAST(sum(__w) AS BIGINT) AS n_words,
              CAST(sum(__c) AS BIGINT) AS n_chars,
              round(CAST(sum(__t) AS DOUBLE) / sum(__w), 6) AS fertility,
              round(CAST(sum(__c) AS DOUBLE) / sum(__t), 6) AS chars_per_token
       FROM (
         SELECT lang,
           CAST(list_sum(list_transform(
             list_filter(string_split_regex(text, '\\s+'), q -> len(q) > 0),
             w -> len(${fold(bpeM)}))) AS BIGINT) AS __t,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
             q -> length(q) > 0)) AS BIGINT) AS __w,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS __c
         FROM documents, ${(1 to bpeM).map("b" + _).mkString(", ")})
       GROUP BY lang"""
  }

  /** The $expMovingAvg(N=5) fold, shared by the window-calculus oracles —
    * the exact op sequence the engine runs (acc seeds with the first value,
    * then acc = y*α + acc*(1-α)), so the replay is bit-identical. */
  private val emaFold = "(acc, y) -> y * (2.0 / 6.0) + acc * (1.0 - 2.0 / 6.0)"

  /** Block-carry replay of a cumulative left fold, O(n) memory and
    * near-linear time (round 12; replaces `list() OVER (ROWS UNBOUNDED
    * PRECEDING)`, which materializes every prefix — O(n²), OOM-killed at
    * the sf1 replica in round 11). The non-null values of `$valCol` in
    * CTE `$from` (per event_type partition, ordered by `$ordCol`) are
    * grouped into fixed-size blocks; a recursive CTE folds block END
    * states (`car`, #blocks iterations); each row then folds only its
    * OWN block's prefix seeded by the previous block's carry — the
    * identical fp op sequence as the engine's sequential fold, so raw
    * doubles match bit-for-bit (a native windowed aggregate does NOT:
    * DuckDB's segment-tree summation order diverges from Spark's running
    * accumulator at ~10⁵-row partitions — the q_window_calc sf1 find).
    * Emits CTE `em(event_type, i, ema)`: the fold value after the i-th
    * non-null input. */
  private def foldBlocks(fold: String, b: Int, from: String,
                         valCol: String, ordCol: String): String =
    s"""nn AS (SELECT event_type, $valCol AS v,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY $ordCol) AS i
              FROM $from WHERE $valCol IS NOT NULL),
        blk AS MATERIALIZED (
          SELECT event_type, (i - 1) // $b AS b, list(v ORDER BY i) AS vs
          FROM nn GROUP BY 1, 2),
        car AS (
          SELECT event_type, b, list_reduce(vs, $fold) AS acc
          FROM blk WHERE b = 0
          UNION ALL
          SELECT blk.event_type, blk.b,
                 list_reduce(list_prepend(car.acc, blk.vs), $fold)
          FROM car JOIN blk ON blk.event_type = car.event_type
                           AND blk.b = car.b + 1),
        em AS (
          SELECT nn.event_type, nn.i,
                 list_reduce(
                   CASE WHEN prev.acc IS NULL
                        THEN list_slice(blk.vs, 1, ((nn.i - 1) % $b) + 1)
                        ELSE list_prepend(prev.acc,
                               list_slice(blk.vs, 1, ((nn.i - 1) % $b) + 1))
                   END, $fold) AS ema
          FROM nn
          JOIN blk ON blk.event_type = nn.event_type
                  AND blk.b = (nn.i - 1) // $b
          LEFT JOIN car prev ON prev.event_type = nn.event_type
                            AND prev.b = (nn.i - 1) // $b - 1)"""

  private def emaBlocks(b: Int): String =
    foldBlocks(emaFold, b, "e", "v", "event_id")

  /** Windowed N-family oracle (shared by the typed and dynamic twins).
    * Cumulative 3-smallest replays via the same block-carry pattern: the
    * carry is the 3-smallest list so far (pure selection, no fp math),
    * merged with each row's own block prefix — O(n·B log B) total instead
    * of sorting every prefix (O(n²)). */
  /** Rep-level connected-components replay fragment (round 13). The dedup
    * oracles' edge sets are always (a) `nearp` edges between GROUP
    * REPRESENTATIVES only (docs deduplicated by text, rep = min doc_id of
    * the group) and (b) `exactp` star edges rep -> member with member id >
    * rep id by construction. A component's min node id therefore equals the
    * min over its REPS, and each member inherits its rep's cluster — so the
    * recursive closure only needs the rep graph. The previous all-labels
    * closure over the full edge set materialized Θ(|cluster|²) rows: 527M
    * at the 100x replica for the image clusters (OOM), 50M for the text
    * dedups (20+ min) — this fragment replays the same `labels` in seconds.
    * Emits CTEs `rne/rl/rc/nds/labels(id, cluster)`; append after `nearp`
    * and `exactp` inside a WITH RECURSIVE. */
  private val repCcSql: String =
    """rne AS (SELECT id_a AS a, id_b AS b FROM nearp
               UNION SELECT id_b, id_a FROM nearp),
       rl AS (SELECT a AS id, a AS c FROM rne
              UNION
              SELECT e2.a, rl.c FROM rne e2 JOIN rl ON rl.id = e2.b),
       rc AS (SELECT id AS rep, min(c) AS cl FROM rl GROUP BY id),
       nds AS (SELECT id_a AS id, id_a AS rep FROM exactp
               UNION SELECT id_b, id_a FROM exactp
               UNION SELECT id_a, id_a FROM nearp
               UNION SELECT id_b, id_b FROM nearp),
       labels AS (SELECT id, min(coalesce(rc.cl, nds.rep)) AS cluster
                  FROM nds LEFT JOIN rc ON rc.rep = nds.rep GROUP BY id)"""

  private val nfamilySql: String =
    """WITH RECURSIVE r0 AS (
         SELECT event_id, event_type, ts, value,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value DESC, event_id) AS rw,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS i
         FROM events),
       blk AS MATERIALIZED (
         SELECT event_type, (i - 1) // 64 AS b, list(value ORDER BY i) AS vs
         FROM r0 GROUP BY 1, 2),
       car AS (
         SELECT event_type, b, list_slice(list_sort(vs), 1, 3) AS top3
         FROM blk WHERE b = 0
         UNION ALL
         SELECT blk.event_type, blk.b,
                list_slice(list_sort(list_concat(car.top3, blk.vs)), 1, 3)
         FROM car JOIN blk ON blk.event_type = car.event_type
                          AND blk.b = car.b + 1),
       m AS (
         -- coalesce, not NULL-skip: block-0 rows have prev.top3 NULL from
         -- the LEFT JOIN, and list_concat's NULL handling is version-
         -- sensitive (|| semantics would NULL the whole first block)
         SELECT r0.event_id, r0.event_type, r0.ts, r0.rw,
                list_slice(list_sort(list_concat(coalesce(prev.top3, []),
                  list_slice(blk.vs, 1, ((r0.i - 1) % 64) + 1))), 1, 3) AS mins
         FROM r0
         JOIN blk ON blk.event_type = r0.event_type
                 AND blk.b = (r0.i - 1) // 64
         LEFT JOIN car prev ON prev.event_type = r0.event_type
                           AND prev.b = (r0.i - 1) // 64 - 1),
       b2 AS (
         SELECT event_id,
                mins,
                list(event_id) OVER w3 AS l2,
                arg_min(event_id, rw) OVER wc AS topv
         FROM m
         WINDOW
           wc AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING),
           w3 AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
       SELECT event_id, mins[1] AS m1, mins[2] AS m2, mins[3] AS m3,
              l2[greatest(len(l2) - 1, 1)] AS la,
              CASE WHEN len(l2) >= 2 THEN l2[len(l2)] END AS lb,
              topv
       FROM b2"""

  /** DuckDB-equivalent SQL per query (column names/types matched to the Spark
    * output; DuckDB BIGINT/DOUBLE defaults cast where Spark emits INT/LONG). */
  def oracleSql: Map[String, String] = Map(
    "q_match" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag = 'A' AND l_quantity >= 30""",
    "q_match_expr" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         WHERE l_extendedprice > 1500 * l_quantity""",
    "q_match_ops" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
           AND o_totalprice > 50000 AND o_totalprice <= 200000
           AND o_orderstatus <> 'P' AND o_custkey IS NOT NULL
           AND NOT (o_orderpriority = '3-MEDIUM' OR o_totalprice > 150000)""",
    "q_match_regex" ->
      """SELECT p_partkey, p_type FROM part
         WHERE regexp_matches(p_type, '^STANDARD.*BRASS$')""",
    "q_project" ->
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice * (1 - l_discount), 4) AS revenue
         FROM lineitem""",
    "q_project_exclude" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders""",
    "q_addfields" ->
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice * (1 - l_discount), 4) AS revenue,
                CAST(year(l_shipdate) AS INT) AS ship_year
         FROM lineitem""",
    "q_addfields_nested" ->
      """SELECT o_orderkey, o_orderstatus AS st, o_totalprice AS tot FROM orders""",
    "q_unset" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders""",
    "q_replace_with" ->
      """SELECT o_orderkey AS id, o_orderstatus AS status,
                round(o_totalprice, 0) AS total FROM orders""",
    "q_replace_root" ->
      """SELECT c_custkey AS ck, lower(c_mktsegment) AS seg FROM customer""",
    "q_setkey" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_id, user_id FROM events""",
    "q_setkey_obj" ->
      """SELECT '{"u":' || user_id || ',"e":"' || event_type || '"}' AS key,
                event_id, user_id, event_type FROM events""",
    "q_unwind" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS toks,
                unnest(range(len(string_split(text, ' ')))) AS idx
         FROM documents""",
    "q_group" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls,
                sum(l_quantity) AS sum_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                count(*) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q_group_global" ->
      """SELECT CAST(NULL AS VARCHAR) AS _id,
                round(sum(round(o_totalprice * 100, 0)) / 100, 2) AS total,
                count(*) AS n FROM orders""",
    "q_group_minmax" ->
      """SELECT o_orderstatus AS _id, max(o_totalprice) AS max_total,
                min(o_totalprice) AS min_total FROM orders GROUP BY 1""",
    "q_group_stddev" ->
      """SELECT l_returnflag AS _id,
                round(stddev_pop(l_quantity), 6) AS sd
         FROM lineitem GROUP BY 1""",
    "q_group_push" ->
      """SELECT n_regionkey AS _id,
                ',' || string_agg(n_name, ',' ORDER BY n_name) AS names_str
         FROM nation GROUP BY 1""",
    "q_group_last" ->
      """SELECT n_regionkey AS _id, arg_max(n_name, n_nationkey) AS last_name
         FROM nation GROUP BY 1""",
    "q_per" ->
      """SELECT CAST(count(*) AS INT) AS n
         FROM (SELECT (row_number() OVER () - 1) // 50 AS g FROM events)
         GROUP BY g""",
    "llm_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              x -> length(x) > 0) AS toks
           FROM documents WHERE doc_id % 17 = 0),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(toks) >= 3 THEN
                    list_distinct(list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+2], ' ')))
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE [] END AS sh
           FROM d),
         g AS (SELECT sh, min(doc_id) AS rep,
                      list(doc_id ORDER BY doc_id) AS ids
               FROM s GROUP BY sh),
         rp AS (SELECT a.rep AS ra, b.rep AS rb, a.ids AS la, b.ids AS lb,
                       CASE WHEN len(list_distinct(a.sh || b.sh)) > 0 THEN
                         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                               len(list_distinct(a.sh || b.sh)), 6)
                       END AS jaccard
                FROM g a JOIN g b ON a.rep < b.rep),
         cp AS (SELECT least(ua.ia, ub.ib) AS id_a,
                       greatest(ua.ia, ub.ib) AS id_b, jaccard
                FROM rp, unnest(la) AS ua(ia), unnest(lb) AS ub(ib)),
         sp AS (SELECT ua.ia AS id_a, ub.ib AS id_b,
                       CASE WHEN len(sh) > 0 THEN 1.0 END AS jaccard
                FROM g, unnest(ids) AS ua(ia), unnest(ids) AS ub(ib)
                WHERE ua.ia < ub.ib)
         SELECT * FROM cp UNION ALL SELECT * FROM sp""",
    "llm_dedup_near" ->
      ("""WITH RECURSIVE
         dt AS (SELECT min(doc_id) AS doc, text FROM documents GROUP BY text),
         d AS (SELECT doc,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM dt),
         s AS (SELECT doc,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc, sh FROM s WHERE len(sh) > 0),
         e AS (SELECT doc, unnest(sh) AS shingle FROM sn),
         h AS (SELECT e.doc, sd.seed,
                      CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                           & 9223372036854775807 AS BIGINT) AS hv
               FROM e CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         m AS (SELECT doc, seed, min(hv) AS minh FROM h GROUP BY doc, seed),
         bk AS (SELECT doc, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM m GROUP BY doc, seed // 4),
         p AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
               FROM bk a JOIN bk b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
         nearp AS (SELECT p.id_a, p.id_b
                   FROM p JOIN sn x ON x.doc = p.id_a JOIN sn y ON y.doc = p.id_b
                   WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                               len(list_distinct(x.sh || y.sh)), 6) >= 0.4),
         exactp AS (SELECT r.id_a, g.doc_id AS id_b
                    FROM (SELECT md5(text) AS hh, min(doc_id) AS id_a
                          FROM documents GROUP BY 1) r
                    JOIN (SELECT doc_id, md5(text) AS hh FROM documents) g
                      USING (hh)
                    WHERE g.doc_id <> r.id_a),
         """ + repCcSql + """,
         drops AS (SELECT id FROM labels WHERE cluster <> id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM drops)"""),
    // star edges instead of verified pairs: per (band, bucket) the min doc
    // centers a star over the other members — CC over stars == CC over the
    // full bucket-clique graph (co-membership is transitive through the
    // center), so this replays dedupNearLsh exactly
    "llm_dedup_near_lsh" ->
      ("""WITH RECURSIVE
         dt AS (SELECT min(doc_id) AS doc, text FROM documents GROUP BY text),
         d AS (SELECT doc,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM dt),
         s AS (SELECT doc,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc, sh FROM s WHERE len(sh) > 0),
         e AS (SELECT doc, unnest(sh) AS shingle FROM sn),
         h AS (SELECT e.doc, sd.seed,
                      CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                           & 9223372036854775807 AS BIGINT) AS hv
               FROM e CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         m AS (SELECT doc, seed, min(hv) AS minh FROM h GROUP BY doc, seed),
         bk AS (SELECT doc, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM m GROUP BY doc, seed // 4),
         ctr AS (SELECT band, bucket, min(doc) AS ctrd
                 FROM bk GROUP BY band, bucket),
         nearp AS (SELECT DISTINCT c.ctrd AS id_a, b.doc AS id_b
                   FROM bk b JOIN ctr c
                     ON c.band = b.band AND c.bucket = b.bucket
                   WHERE b.doc <> c.ctrd),
         exactp AS (SELECT r.id_a, g.doc_id AS id_b
                    FROM (SELECT md5(text) AS hh, min(doc_id) AS id_a
                          FROM documents GROUP BY 1) r
                    JOIN (SELECT doc_id, md5(text) AS hh FROM documents) g
                      USING (hh)
                    WHERE g.doc_id <> r.id_a),
         """ + repCcSql + """,
         drops AS (SELECT id FROM labels WHERE cluster <> id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM drops)"""),
    // same pair + component chain as llm_dedup_near, then both split
    // assignments (cluster-hash vs doc-hash) and the cross-split pair
    // leak counts
    "llm_leakage_split" ->
      ("""WITH RECURSIVE
         dt AS (SELECT min(doc_id) AS doc, text FROM documents GROUP BY text),
         d AS (SELECT doc,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM dt),
         s AS (SELECT doc,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc, sh FROM s WHERE len(sh) > 0),
         e AS (SELECT doc, unnest(sh) AS shingle FROM sn),
         h AS (SELECT e.doc, sd.seed,
                      CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                           & 9223372036854775807 AS BIGINT) AS hv
               FROM e CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         m AS (SELECT doc, seed, min(hv) AS minh FROM h GROUP BY doc, seed),
         bk AS (SELECT doc, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM m GROUP BY doc, seed // 4),
         p AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
               FROM bk a JOIN bk b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
         nearp AS (SELECT p.id_a, p.id_b
                   FROM p JOIN sn x ON x.doc = p.id_a JOIN sn y ON y.doc = p.id_b
                   WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                               len(list_distinct(x.sh || y.sh)), 6) >= 0.4),
         exactp AS (SELECT r.id_a, g.doc_id AS id_b
                    FROM (SELECT md5(text) AS hh, min(doc_id) AS id_a
                          FROM documents GROUP BY 1) r
                    JOIN (SELECT doc_id, md5(text) AS hh FROM documents) g
                      USING (hh)
                    WHERE g.doc_id <> r.id_a),
         pairs AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
                   FROM (SELECT id_a, id_b FROM nearp
                         UNION ALL SELECT id_a, id_b FROM exactp)
                   GROUP BY 1, 2),
         """ + repCcSql + """,
         docs AS (SELECT dd.doc_id AS id,
                         coalesce(l.cluster, dd.doc_id) AS cluster
                  FROM documents dd LEFT JOIN labels l ON l.id = dd.doc_id),
         sp AS (SELECT id,
                  (md5_number_lower('split:' || CAST(cluster AS VARCHAR))
                   & 9223372036854775807) % 10 AS bs,
                  (md5_number_lower('split:' || CAST(id AS VARCHAR))
                   & 9223372036854775807) % 10 AS bn
                FROM docs),
         spl AS (SELECT id,
                   CASE WHEN bs < 8 THEN 'train' WHEN bs = 8 THEN 'val'
                        ELSE 'test' END AS safe_split,
                   CASE WHEN bn < 8 THEN 'train' WHEN bn = 8 THEN 'val'
                        ELSE 'test' END AS naive_split
                 FROM sp),
         psafe AS (SELECT safe_split AS split, count(*) AS ns FROM spl GROUP BY 1),
         pnaive AS (SELECT naive_split AS split, count(*) AS nn FROM spl GROUP BY 1),
         ps AS (SELECT coalesce(a.split, b.split) AS split,
                       coalesce(a.ns, 0) AS n_docs_safe,
                       coalesce(b.nn, 0) AS n_docs_naive
                FROM psafe a FULL JOIN pnaive b ON a.split = b.split),
         lk AS (SELECT
                  CAST(coalesce(sum(CASE WHEN x.naive_split <> y.naive_split
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_naive,
                  CAST(coalesce(sum(CASE WHEN x.safe_split <> y.safe_split
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_safe
                FROM pairs pp JOIN spl x ON x.id = pp.a
                              JOIN spl y ON y.id = pp.b)
         SELECT ps.split, CAST(ps.n_docs_safe AS BIGINT) AS n_docs_safe,
                CAST(ps.n_docs_naive AS BIGINT) AS n_docs_naive,
                lk.leaked_naive, lk.leaked_safe
         FROM ps CROSS JOIN lk"""),
    // replays the new shard vs reference-index verdicts: digests, per-side
    // distinct-text shingles, 32-seed md5 minhash signatures, band buckets,
    // the cross-corpus candidate join and the exact-Jaccard verification
    "llm_dedup_incremental" ->
      """WITH nd AS (SELECT doc_id, text, md5(text) AS h
                     FROM documents WHERE doc_id % 3 = 2),
         rd AS (SELECT text, md5(text) AS h
                FROM documents WHERE doc_id % 3 <> 2),
         nt AS (SELECT h, min(text) AS text FROM nd GROUP BY h),
         rt AS (SELECT h, min(text) AS text FROM rd GROUP BY h),
         ns AS MATERIALIZED (
           SELECT h, sh FROM (
             SELECT h, CASE WHEN len(toks) >= 3 THEN
                 list_distinct(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' ')))
               WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
               ELSE [] END AS sh
             FROM (SELECT h,
                     list_filter(regexp_split_to_array(trim(lower(text)),
                                 '\s+'), x -> length(x) > 0) AS toks
                   FROM nt))
           WHERE len(sh) > 0),
         rs AS MATERIALIZED (
           SELECT h, sh FROM (
             SELECT h, CASE WHEN len(toks) >= 3 THEN
                 list_distinct(list_transform(range(1, len(toks) - 1),
                               i -> array_to_string(toks[i:i+2], ' ')))
               WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
               ELSE [] END AS sh
             FROM (SELECT h,
                     list_filter(regexp_split_to_array(trim(lower(text)),
                                 '\s+'), x -> length(x) > 0) AS toks
                   FROM rt))
           WHERE len(sh) > 0),
         nm AS (SELECT e.h, sd.seed,
                  min(CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                       & 9223372036854775807 AS BIGINT)) AS minh
                FROM (SELECT h, unnest(sh) AS shingle FROM ns) e
                CROSS JOIN (SELECT unnest(range(32)) AS seed) sd
                GROUP BY 1, 2),
         rm AS (SELECT e.h, sd.seed,
                  min(CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                       & 9223372036854775807 AS BIGINT)) AS minh
                FROM (SELECT h, unnest(sh) AS shingle FROM rs) e
                CROSS JOIN (SELECT unnest(range(32)) AS seed) sd
                GROUP BY 1, 2),
         nb AS (SELECT h, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM nm GROUP BY h, seed // 4),
         rb AS (SELECT h, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM rm GROUP BY h, seed // 4),
         cand AS (SELECT DISTINCT nb.h AS ha, rb.h AS hb
                  FROM nb JOIN rb
                    ON nb.band = rb.band AND nb.bucket = rb.bucket),
         ver AS (SELECT DISTINCT c.ha AS h
                 FROM cand c JOIN ns x ON x.h = c.ha JOIN rs y ON y.h = c.hb
                 WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                             / len(list_distinct(x.sh || y.sh)), 6) >= 0.4),
         ex AS (SELECT DISTINCT h FROM rd)
         SELECT n.doc_id, e.h IS NOT NULL AS exact_dup,
                v.h IS NOT NULL AS near_dup,
                (e.h IS NULL AND v.h IS NULL) AS keep
         FROM nd n
         LEFT JOIN ex e ON e.h = n.h
         LEFT JOIN ver v ON v.h = n.h
         ORDER BY n.doc_id""",
    "llm_minhash_md5" ->
      """WITH dt AS (SELECT min(doc_id) AS doc, text FROM documents GROUP BY text),
         d AS (SELECT doc,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM dt),
         s AS (SELECT doc,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc, sh FROM s WHERE len(sh) > 0),
         e AS (SELECT doc, unnest(sh) AS shingle FROM sn),
         h AS (SELECT e.doc, sd.seed,
                      CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                           & 9223372036854775807 AS BIGINT) AS hv
               FROM e CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         m AS (SELECT doc, seed, min(hv) AS minh FROM h GROUP BY doc, seed),
         bk AS (SELECT doc, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM m GROUP BY doc, seed // 4),
         p AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
               FROM bk a JOIN bk b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
         j AS (SELECT p.id_a, p.id_b,
                      round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                            len(list_distinct(x.sh || y.sh)), 6) AS jaccard
               FROM p JOIN sn x ON x.doc = p.id_a JOIN sn y ON y.doc = p.id_b)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.4""",
    "llm_simhash_md5" ->
      """WITH dt AS (SELECT min(doc_id) AS doc, text FROM documents GROUP BY text),
         tk AS (SELECT doc,
                       unnest(list_distinct(list_filter(
                         regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> length(x) > 0))) AS tok
                FROM dt),
         hv AS (SELECT doc,
                       CAST(md5_number_lower(tok) & 9223372036854775807 AS BIGINT) AS hv
                FROM tk),
         v AS (SELECT hv.doc, js.j,
                      CASE WHEN (hv.hv >> js.j) & 1 = 1 THEN 1 ELSE -1 END AS vote
               FROM hv CROSS JOIN (SELECT unnest(range(63)) AS j) js),
         sb AS (SELECT doc, j,
                       CASE WHEN sum(vote) > 0 THEN CAST(1 AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS bit
                FROM v GROUP BY doc, j),
         sg AS (SELECT doc, CAST(sum(bit << j) AS BIGINT) AS sig
                FROM sb GROUP BY doc),
         ck AS (SELECT doc, sig, ii.i AS chunk,
                       (sig >> (16 * ii.i)) & 65535 AS bucket
                FROM sg CROSS JOIN (SELECT unnest(range(4)) AS i) ii),
         p AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
                      a.sig AS sa, b.sig AS sb2
               FROM ck a JOIN ck b
                 ON a.chunk = b.chunk AND a.bucket = b.bucket AND a.doc < b.doc)
         SELECT id_a, id_b, CAST(bit_count(xor(sa, sb2)) AS INT) AS hamming
         FROM p WHERE bit_count(xor(sa, sb2)) <= 3""",
    // r17 (r16 verdict #3): the three queries the driver could never replay
    // (err:"no_oracle" since r15) get full DuckDB oracles — Spark's XXH64
    // implemented in SQL (see XxhOracleSql for the algorithm and the
    // DuckDB-1.0 constraints that shape the generated text)
    "llm_simhash_neardup" -> XxhOracleSql.simhashNearDup,
    "llm_minhash_pairs" -> XxhOracleSql.minhashPairs,
    "llm_ann_ivf" -> XxhOracleSql.annIvf,
    // mirrors the engine's exact-duplicate pre-collapse (output-identical,
    // see VectorOps.embedNearDupExact): all-pairs over DISTINCT vectors,
    // then lateral-unnest expansion of the id groups — the naive n² form
    // was 2e10 pair-dots at sf10 (hours); this runs in seconds
    "llm_embed_neardup" ->
      """WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         g AS (SELECT v, min(vec_id) AS rep,
                      list(vec_id ORDER BY vec_id) AS ids
               FROM n GROUP BY v),
         rp AS (SELECT round(list_inner_product(a.v, b.v), 6) AS cos,
                       a.ids AS la, b.ids AS lb
                FROM g a JOIN g b ON a.rep < b.rep
                WHERE round(list_inner_product(a.v, b.v), 6) >= 0.4),
         cp AS (SELECT least(ua.ia, ub.ib) AS id_a,
                       greatest(ua.ia, ub.ib) AS id_b, cos
                FROM rp, unnest(la) AS ua(ia), unnest(lb) AS ub(ib)),
         sp AS (SELECT ua.ia AS id_a, ub.ib AS id_b,
                       round(list_inner_product(v, v), 6) AS cos
                FROM g, unnest(ids) AS ua(ia), unnest(ids) AS ub(ib)
                WHERE ua.ia < ub.ib
                  AND round(list_inner_product(v, v), 6) >= 0.4)
         SELECT * FROM cp UNION ALL SELECT * FROM sp""",
    // r14 (verdict #7): the LSH variant converts from rows-only to a
    // STRICT oracle — the 4 x 8 hyperplanes are seeded literals (see
    // lshPlanesValues), so the band sign-buckets, candidate join, cosine
    // verify and group expansion all replay exactly
    "llm_embed_neardup_lsh" ->
      s"""WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         g AS (SELECT v, min(vec_id) AS rep,
                      list(vec_id ORDER BY vec_id) AS ids
               FROM n GROUP BY v),
         pl(band, bit, p) AS (VALUES
           ${lshPlanesValues(nPlanes = 8, dim = 64, bands = 4)}),
         bk AS (SELECT g.rep, pl.band,
                       sum(CASE WHEN list_inner_product(g.v, pl.p) > 0
                                THEN (CAST(1 AS BIGINT) << pl.bit)
                                ELSE 0 END) AS bucket
                FROM g, pl GROUP BY g.rep, pl.band),
         cand AS (SELECT DISTINCT a.rep AS ra, b.rep AS rb
                  FROM bk a JOIN bk b
                    ON a.band = b.band AND a.bucket = b.bucket
                   AND a.rep < b.rep),
         rp AS (SELECT round(list_inner_product(ga.v, gb.v), 6) AS cos,
                       ga.ids AS la, gb.ids AS lb
                FROM cand
                JOIN g ga ON ga.rep = cand.ra
                JOIN g gb ON gb.rep = cand.rb
                WHERE round(list_inner_product(ga.v, gb.v), 6) >= 0.4),
         cp AS (SELECT least(ua.ia, ub.ib) AS id_a,
                       greatest(ua.ia, ub.ib) AS id_b, cos
                FROM rp, unnest(la) AS ua(ia), unnest(lb) AS ub(ib)),
         sp AS (SELECT ua.ia AS id_a, ub.ib AS id_b,
                       round(list_inner_product(v, v), 6) AS cos
                FROM g, unnest(ids) AS ua(ia), unnest(ids) AS ub(ib)
                WHERE ua.ia < ub.ib
                  AND round(list_inner_product(v, v), 6) >= 0.4)
         SELECT * FROM cp UNION ALL SELECT * FROM sp""",
    // recall harness: the floor booleans are the contract — a recall
    // regression flips them and the hash compare fails. The ground-truth
    // counts (query counts, true-jaccard/cosine pair counts) are derived
    // from the data by DuckDB itself, so they track the corpus.
    "llm_ann_ivf_recall" ->
      """SELECT 'ivf' AS method, 5 AS k,
                (SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0)
                  AS n_queries,
                true AS meets_floor""",
    "llm_ann_lsh_recall" ->
      """SELECT 'lsh' AS method, 5 AS k,
                (SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0)
                  AS n_queries,
                true AS meets_floor""",
    // r14 (verdict #7): strict oracle for the multi-probe LSH search —
    // single plane set (seed 42), probe buckets b0 and b0 XOR (1<<bit),
    // rank by RAW sim desc then nn_id (the row_number tie-break), self
    // matches dropped. A corpus row's bucket equals exactly one probe
    // value, so the probe join cannot duplicate candidates.
    //
    // Exact DISTINCT-VECTOR collapse (the llm_embed_neardup idiom, here
    // needed so the replay scales — the naive probe join is ~4e9 dots at
    // the 100x replica): sims depend only on vector VALUES, so candidates
    // are ranked at the distinct level first. dense_rank <= 6 keeps every
    // group that can contribute to a top-5: groups beyond the 6th are
    // reachable only if the first six hold < 5 eligible ids, impossible —
    // each group holds >= 1 id and only the self group can contribute 0
    // (when it is the query's own singleton), leaving >= 5; sim ties at
    // the boundary are all retained by dense_rank.
    "llm_ann_lsh" ->
      s"""WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         g AS (SELECT v, min(vec_id) AS rep,
                      list(vec_id ORDER BY vec_id) AS ids,
                      list(vec_id ORDER BY vec_id)
                        FILTER (WHERE vec_id % 100 = 0) AS qids
               FROM n GROUP BY v),
         pl(bit, p) AS (VALUES
           ${lshPlanesValues(nPlanes = 6, dim = 64, bands = 1, withBand = false)}),
         cb AS (SELECT g.rep, g.v, g.ids,
                       sum(CASE WHEN list_inner_product(g.v, pl.p) > 0
                                THEN (CAST(1 AS BIGINT) << pl.bit)
                                ELSE 0 END) AS bucket
                FROM g, pl GROUP BY g.rep, g.v, g.ids),
         qb AS (SELECT cb.rep AS qrep, cb.v AS qv, g.qids, cb.bucket AS b0
                FROM cb JOIN g ON g.rep = cb.rep
                WHERE len(g.qids) > 0),
         probes AS (
           SELECT qrep, qv, qids, b0 AS bucket FROM qb
           UNION ALL
           SELECT qrep, qv, qids, xor(b0, CAST(1 AS BIGINT) << pl.bit)
           FROM qb, pl),
         cand AS (SELECT p.qrep, p.qids, c.rep AS crep, c.ids,
                         list_inner_product(p.qv, c.v) AS sim
                  FROM probes p JOIN cb c ON p.bucket = c.bucket),
         top AS (SELECT * FROM (
                   SELECT qrep, qids, crep, ids, sim,
                          dense_rank() OVER (PARTITION BY qrep
                            ORDER BY sim DESC) AS grk
                   FROM cand) t WHERE grk <= 6),
         x AS (SELECT uq.q AS query_id, uc.c AS nn_id, sim
               FROM top, unnest(qids) AS uq(q), unnest(ids) AS uc(c)
               WHERE uc.c <> uq.q),
         r AS (SELECT query_id, nn_id, sim,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, nn_id) AS rnk
               FROM x)
         SELECT query_id, nn_id, round(sim, 6) AS sim, CAST(rnk AS INT) AS rank
         FROM r WHERE rnk <= 5""",
    "llm_knn_graph" -> knnGraphSql(
      """SELECT src, nbr AS nn_id, round(sim, 6) AS sim, CAST(rnk AS INT) AS rank
         FROM e2"""),
    // served-from-persistence queries, BOTH replaying the INLINE
    // build+search — equality of the served Spark output with the inline
    // DuckDB replay IS the persistence-parity proof
    "llm_ann_graph" -> annGraphSearchSql("id % 100 = 0"),
    "llm_ann_graph_served" -> annGraphSearchSql("id % 50 = 0"),

    "llm_knn_graph_recall" ->
      """SELECT 'nndescent' AS method, 5 AS k,
                (SELECT count(*) FROM embeddings WHERE vec_id < 500)
                  AS n_queries,
                true AS meets_floor""",
    "llm_ann_graph_recall" ->
      """SELECT 'graph' AS method, 5 AS k,
                (SELECT count(*) FROM embeddings WHERE vec_id < 500)
                  AS n_queries,
                true AS meets_floor""",
    "llm_ann_graph_upsert" ->
      """SELECT 'graph_upsert' AS method, 5 AS k,
                (SELECT count(*) FROM embeddings WHERE vec_id < 100)
                  AS n_queries,
                true AS meets_floor, true AS new_retrievable""",
    "llm_pca_cov" -> {
      // all 2080 upper-triangular population-covariance entries recomputed
      // from the SAME quantized integer sums as PcaOps.momentsQ:
      // cov(i,j) = (n·Σqᵢqⱼ − Σqᵢ·Σqⱼ)/(n²·10¹²), ONE double division over
      // exact integers — summation-order-proof in both engines
      """WITH v AS (
           SELECT list_transform(embedding, x ->
             CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
           FROM embeddings),
         a AS (
           SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
                  count(*) AS n,
                  sum(v.v[i.range + 1] * v.v[j.range + 1]) AS qij,
                  sum(v.v[i.range + 1]) AS si,
                  sum(v.v[j.range + 1]) AS sj
           FROM v, range(0, 64) i, range(0, 64) j
           WHERE j.range >= i.range
           GROUP BY i.range, j.range)
         SELECT i, j,
                round(CAST(n * qij - si * sj AS DOUBLE) /
                      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 6) + 0
                  AS cov
         FROM a"""
    },
    "llm_pca_whiten" -> {
      // trace = sum of the 64 per-dimension population variances, each the
      // exact-integer form (n·Σq² − (Σq)²)/(n²·10¹²) over the quantized
      // components, parenthesized as the JVM's left fold over ascending i
      val sums = (1 to 64).map(i =>
        s"sum(v[$i]) AS s$i, sum(v[$i] * v[$i]) AS q$i").mkString(", ")
      val trace = (1 to 64).map(i =>
          s"(CAST(n * q$i - s$i * s$i AS DOUBLE) / " +
            s"(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12))")
        .reduce((a, b) => s"($a + $b)")
      s"""WITH v AS (
           SELECT list_transform(embedding, x ->
             CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
           FROM embeddings),
         a AS (SELECT count(*) AS n, $sums FROM v)
         SELECT CAST(n AS BIGINT) AS n, 64 AS dim, 8 AS r,
                round($trace, 6) AS trace,
                true AS orthonormal, true AS eigs_descending,
                true AS evr_meets_floor, true AS whitened_unit_var
         FROM a"""
    },
    "llm_abtt" ->
      """SELECT CAST(count(*) AS BIGINT) AS n, 2 AS removed,
                true AS residual_orthogonal, true AS mean_removed
         FROM embeddings""",
    "llm_minhash_recall" ->
      """WITH dt AS (SELECT min(doc_id) AS doc, text FROM documents
                     WHERE doc_id % 3 = 0 GROUP BY text),
         d AS (SELECT doc,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM dt),
         s AS (SELECT doc,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc, sh FROM s WHERE len(sh) > 0),
         p AS (SELECT a.doc AS id_a, b.doc AS id_b
               FROM sn a JOIN sn b ON a.doc < b.doc
               WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                           len(list_distinct(a.sh || b.sh)), 6) >= 0.4)
         SELECT 'minhash' AS method, (SELECT count(*) FROM p) AS n_true,
                true AS meets_floor""",
    "llm_simhash_recall" ->
      """SELECT 'simhash' AS method, true AS complete""",
    "llm_embed_lsh_recall" ->
      """WITH u AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
                    FROM embeddings WHERE vec_id % 2 = 0),
         n AS (SELECT vec_id,
                      CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                        list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                      ELSE v0 END AS v
               FROM u),
         p AS (SELECT a.vec_id FROM n a JOIN n b ON a.vec_id < b.vec_id
               WHERE round(list_inner_product(a.v, b.v), 6) >= 0.4)
         SELECT 'embed_lsh' AS method, (SELECT count(*) FROM p) AS n_true,
                true AS meets_floor""",
    "llm_cosine_topk" ->
      """WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         q AS (SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id % 100 = 0),
         s AS (
           SELECT q.query_id, c.vec_id AS nn_id,
                  list_inner_product(c.v, q.qv) AS sim0
           FROM n c, q WHERE c.vec_id <> q.query_id),
         r AS (
           SELECT query_id, nn_id, sim0,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim0 DESC, nn_id) AS rk
           FROM s)
         SELECT query_id, nn_id, round(sim0, 6) AS sim, CAST(rk AS INT) AS rank
         FROM r WHERE rk <= 5""",
    "llm_ann_ivfpq" -> {
      // generated: 64-term full-vector dot chains (coarse assignment and
      // query probes) + per-subspace 16-term chains, all parenthesized as
      // the JVM's left folds
      def chainN(n: Int)(term: Int => String): String =
        (1 to n).map(term).reduce((a, b) => s"($a + $b)")
      val assignDot = chainN(64)(i => s"(nv.v[$i] * co.v[$i])")
      val probeDot = chainN(64)(i => s"(qq.v[$i] * co.v[$i])")
      val dChains = (0 until 4).map { j =>
        val c = chainN(16)(i =>
          s"((nv.v[${j * 16 + i}] - ct.v[${j * 16 + i}])^2)")
        s"WHEN j.range = $j THEN $c"
      }.mkString(" ")
      val tChains = (0 until 4).map { j =>
        val c = chainN(16)(i => s"(q.v[${j * 16 + i}] * ct.v[${j * 16 + i}])")
        s"WHEN j.range = $j THEN $c"
      }.mkString(" ")
      s"""WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         csr AS (
           SELECT vec_id, v, row_number() OVER (ORDER BY
             (md5_number_lower('ivfpq:coarse:' || CAST(vec_id AS VARCHAR))
              & 9223372036854775807), vec_id) AS rnk
           FROM n),
         coarse AS (SELECT CAST(rnk - 1 AS INT) AS lidx, v FROM csr
                    WHERE rnk <= 8),
         psr AS (
           SELECT vec_id, v, row_number() OVER (ORDER BY
             (md5_number_lower('ivfpq:pq:' || CAST(vec_id AS VARCHAR))
              & 9223372036854775807), vec_id) AS rnk
           FROM n),
         cent AS (SELECT CAST(rnk - 1 AS INT) AS cidx, v FROM psr
                  WHERE rnk <= 8),
         asg AS (
           SELECT vec_id, lidx FROM (
             SELECT nv.vec_id, co.lidx,
               row_number() OVER (PARTITION BY nv.vec_id
                 ORDER BY ($assignDot) DESC, co.lidx) AS rk
             FROM n nv, coarse co) WHERE rk = 1),
         dists AS (
           SELECT nv.vec_id, CAST(j.range AS INT) AS j, ct.cidx,
             (CASE $dChains END) AS d
           FROM n nv, range(0, 4) j, cent ct),
         codes AS (
           SELECT vec_id, j, cidx FROM (
             SELECT vec_id, j, cidx,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d, cidx) AS rk
             FROM dists) WHERE rk = 1),
         q AS (SELECT vec_id AS query_id, v FROM n WHERE vec_id % 100 = 0),
         probes AS (
           SELECT query_id, lidx FROM (
             SELECT qq.query_id, co.lidx,
               row_number() OVER (PARTITION BY qq.query_id
                 ORDER BY ($probeDot) DESC, co.lidx) AS rk
             FROM (SELECT query_id, v FROM q) qq, coarse co) WHERE rk <= 3),
         tab AS (
           SELECT q.query_id, CAST(j.range AS INT) AS j, ct.cidx,
             (CASE $tChains END) AS t
           FROM q, range(0, 4) j, cent ct),
         cand AS (
           SELECT p.query_id, a.vec_id AS nn_id
           FROM probes p JOIN asg a ON a.lidx = p.lidx
           WHERE a.vec_id <> p.query_id),
         sims AS (
           SELECT query_id, nn_id, (((t0 + t1) + t2) + t3) AS sim0 FROM (
             SELECT ca.query_id, ca.nn_id,
               MAX(CASE WHEN t.j = 0 THEN t.t END) AS t0,
               MAX(CASE WHEN t.j = 1 THEN t.t END) AS t1,
               MAX(CASE WHEN t.j = 2 THEN t.t END) AS t2,
               MAX(CASE WHEN t.j = 3 THEN t.t END) AS t3
             FROM cand ca
             JOIN codes co ON co.vec_id = ca.nn_id
             JOIN tab t ON t.query_id = ca.query_id AND t.j = co.j
                       AND t.cidx = co.cidx
             GROUP BY 1, 2)),
         r AS (
           SELECT query_id, nn_id, sim0,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim0 DESC, nn_id) AS rk
           FROM sims)
         SELECT query_id, nn_id, round(sim0, 6) AS sim, CAST(rk AS INT) AS rank
         FROM r WHERE rk <= 5"""
    },
    "llm_ann_pq" -> {
      // generated: per-subspace L2/dot chains over sub=16 dims (64-dim
      // embeddings / m=4), parenthesized as the JVM's left fold so the
      // doubles match bit-for-bit
      def chain(term: Int => String): String =
        (1 to 16).map(term).reduce((a, b) => s"($a + $b)")
      val dChains = (0 until 4).map { j =>
        val c = chain(i =>
          s"((nv.v[${j * 16 + i}] - ct.v[${j * 16 + i}])^2)")
        s"WHEN j.range = $j THEN $c"
      }.mkString(" ")
      val tChains = (0 until 4).map { j =>
        val c = chain(i => s"(q.v[${j * 16 + i}] * ct.v[${j * 16 + i}])")
        s"WHEN j.range = $j THEN $c"
      }.mkString(" ")
      s"""WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         sr AS (
           SELECT vec_id, v, row_number() OVER (ORDER BY
             (md5_number_lower('pq:' || CAST(vec_id AS VARCHAR))
              & 9223372036854775807), vec_id) AS rnk
           FROM n),
         cent AS MATERIALIZED (SELECT CAST(rnk - 1 AS INT) AS cidx, v FROM sr WHERE rnk <= 8),
         dists AS (
           SELECT nv.vec_id, CAST(j.range AS INT) AS j, ct.cidx,
             (CASE $dChains END) AS d
           FROM n nv, range(0, 4) j, cent ct),
         codes AS MATERIALIZED (
           SELECT vec_id, j, cidx FROM (
             SELECT vec_id, j, cidx,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d, cidx) AS rk
             FROM dists) WHERE rk = 1),
         q AS MATERIALIZED (SELECT vec_id AS query_id, v FROM n WHERE vec_id % 100 = 0),
         tab AS MATERIALIZED (
           SELECT q.query_id, CAST(j.range AS INT) AS j, ct.cidx,
             (CASE $tChains END) AS t
           FROM q, range(0, 4) j, cent ct),
         -- code-TUPLE pre-collapse (round 13): ADC sim depends only on the
         -- vector's 4 PQ codes, so vectors sharing a tuple have identical
         -- sims to every query. The direct (query x vector) pivot built a
         -- 400M-group aggregate plus a 400M-row window sort at the 100x
         -- replica (spilled past the box); per-(query, tuple) is 4M rows.
         ctup AS (
           SELECT vec_id,
                  MAX(CASE WHEN j = 0 THEN cidx END) AS c0,
                  MAX(CASE WHEN j = 1 THEN cidx END) AS c1,
                  MAX(CASE WHEN j = 2 THEN cidx END) AS c2,
                  MAX(CASE WHEN j = 3 THEN cidx END) AS c3
           FROM codes GROUP BY 1),
         grp AS MATERIALIZED (
           SELECT c0, c1, c2, c3, min(vec_id) AS gid,
                  list(vec_id ORDER BY vec_id) AS ids
           FROM ctup GROUP BY 1, 2, 3, 4),
         gsims AS (
           SELECT t0.query_id, g.gid,
                  (((t0.t + t1.t) + t2.t) + t3.t) AS sim0
           FROM grp g
           JOIN tab t0 ON t0.j = 0 AND t0.cidx = g.c0
           JOIN tab t1 ON t1.j = 1 AND t1.cidx = g.c1
                      AND t1.query_id = t0.query_id
           JOIN tab t2 ON t2.j = 2 AND t2.cidx = g.c2
                      AND t2.query_id = t0.query_id
           JOIN tab t3 ON t3.j = 3 AND t3.cidx = g.c3
                      AND t3.query_id = t0.query_id),
         -- expand only each group's 6 SMALLEST member ids (lists are
         -- sorted ascending): within a group all members tie on sim, so a
         -- member beyond the 6th-smallest has >= 5 better same-group
         -- candidates even after excluding the query itself — it can
         -- never reach the top 5. This bound is tie-proof: rank-based
         -- group pruning kept every tying group, and the synthetic ADC
         -- sims tie across hundreds of groups (1.9M surviving groups x
         -- full member lists spilled 45+ GB at the 100x replica)
         expd AS (
           SELECT s.query_id, u.nn_id, s.sim0
           FROM gsims s JOIN grp g ON g.gid = s.gid,
                unnest(list_slice(g.ids, 1, 6)) u(nn_id)
           WHERE u.nn_id <> s.query_id),
         r AS (
           SELECT query_id, nn_id, sim0,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim0 DESC, nn_id) AS rk
           FROM expd)
         SELECT query_id, nn_id, round(sim0, 6) AS sim, CAST(rk AS INT) AS rank
         FROM r WHERE rk <= 5"""
    },
    "llm_hard_negatives" ->
      """WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         q AS (SELECT vec_id AS query_id, v AS qv FROM n WHERE vec_id % 100 = 0),
         s AS (
           SELECT q.query_id, c.vec_id AS neg_id,
                  list_inner_product(c.v, q.qv) AS sim0
           FROM n c, q WHERE c.vec_id <> q.query_id),
         r AS (
           SELECT query_id, neg_id, sim0,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim0 DESC, neg_id) AS rk
           FROM s WHERE sim0 < 0.35)
         SELECT query_id, neg_id, round(sim0, 6) AS sim, CAST(rk AS INT) AS rank
         FROM r WHERE rk <= 5""",
    "q_group_addtoset" ->
      """SELECT n_regionkey AS _id,
                ',' || string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS names_str
         FROM nation GROUP BY 1""",
    "q_group_mergeobjects" ->
      """SELECT user_id AS _id, CAST(count(DISTINCT k) AS INT) AS n_keys
         FROM (SELECT user_id, unnest(json_keys(props)) AS k FROM events)
         GROUP BY 1""",
    "q_bucket" ->
      """SELECT CASE
                  WHEN l_quantity >= 1  AND l_quantity < 10 THEN 1
                  WHEN l_quantity >= 10 AND l_quantity < 25 THEN 10
                  WHEN l_quantity >= 25 AND l_quantity < 40 THEN 25
                  WHEN l_quantity >= 40 AND l_quantity < 51 THEN 40
                END AS _id,
                count(*) AS n
         FROM lineitem GROUP BY 1""",
    "q_count" ->
      """SELECT count(*) AS n_f FROM orders WHERE o_orderstatus = 'F'""",
    "q_lookup_unwind" ->
      """SELECT o_orderkey, c_name AS cname, c_mktsegment AS cseg
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q_lookup_agg" ->
      """SELECT o_orderkey,
                CAST((SELECT count(*) FROM customer c
                      WHERE c.c_custkey = o.o_custkey) AS INT) AS n_cust
         FROM orders o""",
    "q_lookup_remote" ->
      """SELECT s_suppkey, s_name, n_name AS nation
         FROM supplier JOIN nation ON s_nationkey = n_nationkey""",

    "q_lookup_theta" ->
      """SELECT o_orderkey,
                CAST((SELECT count(*) FROM customer c
                      WHERE c.c_acctbal >= o.o_totalprice / 100 - 50
                        AND c.c_acctbal <= o.o_totalprice / 100) AS INT) AS n_near
         FROM orders o WHERE o_orderkey < 50""",
    "q_dedup" ->
      """SELECT DISTINCT user_id FROM events""",
    "q_lookup_range" ->
      """SELECT o_orderkey,
                CAST((SELECT count(*) FROM customer c
                      WHERE c.c_acctbal >= o.o_totalprice / 100 - 50
                        AND c.c_acctbal <= o.o_totalprice / 100) AS INT) AS n_near
         FROM orders o""",
    "q_merge" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey < 3000 THEN round(o_totalprice * 2, 2)
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders""",
    "q_merge_incr" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 1000 = 0 THEN round(o_totalprice * 3, 2)
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders""",
    "q_merge_pipeline" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderkey % 3 = 0
                     THEN round(o_totalprice + o_totalprice, 2)
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_orderpriority END AS o_orderpriority,
                CASE WHEN o_orderkey % 3 = 0 THEN CAST(1 AS INTEGER)
                     ELSE NULL END AS n_updates
         FROM orders""",
    "q_dynamic_merge_pipe" ->
      """SELECT o_orderkey AS _id,
                CASE WHEN o_orderkey % 3 = 0
                     THEN round(o_totalprice + o_totalprice, 2)
                     ELSE o_totalprice END AS p,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_orderpriority END AS prio,
                CASE WHEN o_orderkey % 3 = 0 THEN CAST(1 AS BIGINT)
                     ELSE NULL END AS n
         FROM orders""",
    "q_out" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority, CAST(o_orderkey AS VARCHAR) AS _id
         FROM orders""",
    "q_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority FROM orders WHERE o_totalprice <= 200000""",
    "q_send" ->
      """SELECT event_id, event_type, event_type AS __topic FROM events""",
    "q_http" ->
      // DuckDB replays the echo server's arithmetic from the request row
      """SELECT n_nationkey, CAST(n_nationkey AS BIGINT) AS key2,
                upper(n_name) AS up, reverse(n_name) AS rv,
                CAST(strlen(n_name) AS INT) AS ln
         FROM nation""",
    "q_dynamic_http" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS key, upper(n_name) AS up,
                reverse(n_name) AS rv, CAST(strlen(n_name) AS INT) AS ln
         FROM nation""",
    "q_delay" ->
      """SELECT event_id, user_id FROM events
         WHERE epoch_ms(ts::TIMESTAMP) + (event_id % 5 + 1) * 3600000
               <= epoch_ms(TIMESTAMP '2024-01-15 00:00:00')""",
    "q_probe" ->
      """WITH c AS (SELECT date_trunc('minute', ts::TIMESTAMP) AS minute,
                           count(*) AS count
                    FROM events GROUP BY 1)
         SELECT 'ev' AS name, strftime(minute, '%Y-%m-%d %H:%M') AS minute, count
         FROM c WHERE minute < (SELECT max(minute) FROM c)""",
    "q_throttle" ->
      """SELECT event_id, user_id FROM events""",
    "q_trace" ->
      """SELECT o_orderkey FROM orders""",
    "q_dynamic_addfields" ->
      """SELECT o_orderkey AS _id,
                CASE WHEN o_totalprice > 150000 THEN 'high' ELSE '0' END AS flag,
                o_orderstatus || '!' AS k,
                CAST(o_orderkey + 1 AS BIGINT) AS ab
         FROM orders""",
    "q_dynamic_replacewith" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderkey END AS _id,
                CASE WHEN o_orderkey % 2 = 0 THEN o_custkey END AS x,
                CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 'scalar' END AS sub
         FROM orders""",
    "q_dynamic_match" ->
      """SELECT p_partkey AS _id FROM part
         WHERE p_partkey % 3 <> 0 AND p_size > 10""",
    "q_dynamic_group" ->
      """WITH d AS (
           SELECT o_custkey % 100 AS g,
                  CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS nval,
                  CASE WHEN o_orderkey % 1000 = 0 THEN o_orderpriority END AS sval
           FROM orders)
         SELECT g AS _id,
                CASE WHEN count(sval) > 0 THEN max(sval)
                     ELSE CAST(max(nval) AS VARCHAR) END AS mx,
                CASE WHEN count(nval) > 0 THEN CAST(min(nval) AS VARCHAR)
                     ELSE min(sval) END AS mn,
                CAST(coalesce(sum(nval), 0) AS BIGINT) AS s,
                count(*) AS n
         FROM d GROUP BY g""",
    "q_dynamic_unwind" ->
      """SELECT p_partkey AS _id, CAST(p_size AS BIGINT) AS el, CAST(0 AS BIGINT) AS i
         FROM part
         UNION ALL
         SELECT p_partkey, CAST(p_partkey % 10 AS BIGINT), CAST(1 AS BIGINT)
         FROM part""",
    "q_dynamic_jslt" ->
      """SELECT o_orderkey AS _id,
                CASE WHEN o_totalprice > 150000 THEN 'high' ELSE 'low' END AS t,
                CAST(length(CAST(o_orderkey AS VARCHAR)) AS BIGINT) AS nd,
                o_orderstatus AS s2
         FROM orders""",
    "q_dynamic_jq" ->
      """WITH d AS (SELECT o_orderkey AS _id, o_custkey % 10 AS a,
                           o_orderkey % 7 AS b FROM orders)
         SELECT _id, a + b + 3 AS s, greatest(a, b, 3) AS mx, a AS f
         FROM d WHERE greatest(a, b, 3) > 5""",
    "q_dynamic_expr" ->
      """SELECT event_id AS _id,
                CAST(year(ts) AS BIGINT) AS y,
                CAST(day(ts) AS BIGINT) AS d,
                strftime(ts, '%Y-%m-%d') AS day,
                CAST(date_diff('day', CAST(ts AS DATE),
                               DATE '2024-02-01') AS BIGINT) AS age,
                regexp_matches(event_type, 'e$') AS hase,
                replace(event_type, 'a', '_') AS clean,
                '[' || array_to_string(list_sort([user_id % 7, user_id % 5,
                                                  user_id % 3]), ',') || ']' AS mods
         FROM events""",
    "q_dynamic_lookup" ->
      """SELECT o_orderkey AS _id, o_custkey AS ck, c_name AS cname
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey < 30000""",
    "q_dynamic_lookup_pipe" ->
      """SELECT o_orderkey AS _id, c_name AS cname
         FROM orders LEFT JOIN (SELECT * FROM customer
                                WHERE c_mktsegment = 'BUILDING') c
           ON o_custkey = c_custkey
         WHERE o_orderkey < 40000""",
    "q_dynamic_merge" ->
      """SELECT o_orderkey AS _id,
                CASE WHEN o_orderkey % 100 = 0 THEN round(o_totalprice * 2, 2)
                     ELSE o_totalprice END AS p,
                o_orderstatus AS st
         FROM orders""",
    "q_dynamic_group_stats" ->
      """WITH t AS (SELECT event_type, event_id FROM (
             SELECT event_type, event_id,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY value DESC, event_id) AS rn
             FROM events) WHERE rn = 1)
         SELECT e.event_type AS _id,
                round(median(e.value), 5) AS med,
                round(quantile_cont(e.value, 0.9), 5) AS p90,
                min(t.event_id) AS top
         FROM events e JOIN t ON t.event_type = e.event_type
         GROUP BY 1""",
    "q_dynamic_graphlookup" ->
      """WITH RECURSIVE g AS (
           SELECT o.o_orderkey, c.c_custkey AS ck, c.c_nationkey AS nk,
                  0 AS d
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           WHERE o.o_orderkey < 20000
           UNION ALL
           SELECT g.o_orderkey, c.c_custkey, c.c_nationkey, g.d + 1
           FROM g JOIN customer c ON c.c_custkey = g.nk
           WHERE g.d < 3)
         SELECT o_orderkey AS _id, ck AS ck2, CAST(min(d) AS BIGINT) AS d
         FROM g GROUP BY 1, 2""",
    "q_dynamic_bucketauto" ->
      """WITH r AS (SELECT value AS v,
                           rank() OVER (ORDER BY value) AS rk,
                           count(*) OVER () AS n
                    FROM events),
         g AS (SELECT ((rk - 1) * 8) // n AS bk, min(v) AS mn, max(v) AS mx,
                      CAST(count(*) AS BIGINT) AS n, round(sum(v), 2) AS tot
               FROM r GROUP BY 1)
         SELECT mn AS lo, coalesce(lead(mn) OVER (ORDER BY bk), mx) AS hi,
                n, tot
         FROM g""",
    "q_dynamic_vectorsearch" ->
      """WITH q AS (SELECT list_transform(range(0, 64),
                             i -> ((i % 7) - 3) * 0.1) AS qv),
         c AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE label <= 3),
         s AS (SELECT vec_id,
                      list_inner_product(v, qv)
                        / (sqrt(list_inner_product(v, v))
                           * sqrt(list_inner_product(qv, qv))) AS sc
               FROM c, q)
         SELECT vec_id % 10000000 AS _id, round(sc, 6) AS score
         FROM s ORDER BY sc DESC LIMIT 10""",
    "q_redact" ->
      """SELECT o_orderkey,
                CASE WHEN o_totalprice <= 150000 THEN o_totalprice END AS s_total
         FROM orders""",
    "q_expr_percentile" ->
      """SELECT l_orderkey AS _id,
                round(quantile_cont(l_quantity, 0.5), 6) AS med,
                round(quantile_cont(l_quantity, 0.25), 6) AS p25,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90
         FROM lineitem GROUP BY 1""",
    "q_expr_mathext" ->
      """SELECT l_orderkey, l_linenumber,
                round(sin(l_quantity), 6) AS rs,
                round(cos(l_quantity), 6) AS rc,
                round(atan2(l_quantity, 10), 6) AS ra,
                round(radians(l_quantity), 6) AS rad,
                round(acos(l_linenumber / 10.0), 6) AS rac,
                round(log10(l_quantity), 6) AS rl10,
                CAST(coalesce(list_sum(range(0, l_linenumber)), 0) AS BIGINT) AS range_sum,
                CAST(list_avg(range(0, l_linenumber)) AS DOUBLE) AS range_avg,
                CAST(list_max(range(0, l_linenumber)) AS BIGINT) AS range_max
         FROM lineitem WHERE l_orderkey < 1000""",
    "q_lookup_pipeline" ->
      """WITH ranked AS (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  row_number() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_quantity DESC, l_linenumber) AS rk
           FROM lineitem WHERE l_returnflag = 'N')
         SELECT o.o_orderkey, CAST(r.l_linenumber AS INT) AS ln, r.l_quantity AS qty
         FROM orders o JOIN ranked r ON r.l_orderkey = o.o_orderkey
         WHERE o.o_orderkey < 200 AND r.rk <= 2""",
    "q_jslt" ->
      """SELECT upper(c_name) AS cust, lower(c_mktsegment) AS seg,
                c_acctbal * 2 AS bal2,
                CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS cls,
                c_custkey AS key_,
                c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer""",
    "q_jq" ->
      """SELECT p_name AS part, CAST(p_size * 2 AS BIGINT) AS double_size,
                lower(p_brand) AS brand, p_partkey AS pk
         FROM part WHERE p_size > 25""",
    "q_expr_strings" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS low,
                substring(p_type, 1, 5) AS sub,
                CAST(length(p_name) AS INT) AS len,
                CAST(strpos(p_type, 'BRASS') - 1 AS INT) AS idx,
                replace(p_brand, '#', '-') AS repl,
                p_brand || '/' || p_type AS cat
         FROM part""",
    "q_expr_bytes" ->
      // strlen = BYTE length in DuckDB; 'é' is 2 bytes, the rest is ASCII
      """SELECT p_partkey,
                CAST(strlen(p_brand) + 2 + strlen(p_type) AS INT) AS blen,
                p_brand AS sub_brand,
                'é' AS sub_acc,
                p_type AS sub_type,
                CAST(strlen(p_brand) AS BIGINT) AS idx_acc,
                CAST(CASE WHEN strpos(substring(p_type, 3, 2), 'A') = 0
                          THEN -1
                          ELSE strpos(substring(p_type, 3, 2), 'A') + 1
                     END AS BIGINT) AS idx_win
         FROM part""",
    "q_expr_bsonsize" ->
      // outer doc 4+..+1; k: 1+2+8; n: 1+2+(4+len+1); sub: 1+4+(4+(1+2+
      // (4+len+1))+1) — collapses to 42 + strlen(p_name) + strlen(p_type)
      """SELECT p_partkey,
                CAST(42 + strlen(p_name) + strlen(p_type) AS INT) AS bsz,
                CAST(strlen(p_name) AS INT) AS bin
         FROM part""",
    "q_expr_cond" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
                     WHEN o_orderpriority = '2-HIGH' THEN 'warm'
                     ELSE 'cold' END AS prio_class,
                CASE WHEN o_totalprice >= 100000 THEN 'big' ELSE 'small' END AS flag,
                coalesce(o_orderstatus, '?') AS fb
         FROM orders""",
    "q_expr_arith" ->
      """SELECT l_orderkey, l_linenumber,
                round(l_extendedprice * l_discount, 4) AS a,
                l_linenumber % 3 AS b,
                abs(l_quantity - 25) AS c,
                CAST(floor(l_extendedprice / 100) AS BIGINT) AS d,
                CAST(ceil(sqrt(l_quantity)) AS BIGINT) AS e,
                floor(ln(l_quantity + 1) * 100) / 100 AS f
         FROM lineitem""",
    "q_expr_dates" ->
      """SELECT event_id,
                CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
                CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
                strftime(ts, '%Y-%m-%d') AS ds
         FROM events""",
    "q_expr_arrays" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split(text, ' '),
                                     t -> length(t) > 5)) AS INT) AS n_long,
                CAST(coalesce(list_sum(list_transform(string_split(text, ' '),
                                       t -> length(t))), 0) AS BIGINT) AS lens_sum,
                string_split(text, ' ')[1] AS first_tok,
                list_reverse(string_split(text, ' '))[1] AS rev_first
         FROM documents""",
    "llm_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
                count(*) AS dup_count
         FROM documents GROUP BY 1""",
    "llm_chunk_windows" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       t -> length(t) > 0) AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks, len(toks) AS n,
                      CASE WHEN len(toks) = 0 THEN 0
                           WHEN len(toks) <= 96 THEN 1
                           ELSE CAST(ceil((len(toks) - 32) / 64.0) AS INT)
                      END AS nc
               FROM d),
         e AS (SELECT doc_id, toks, n, unnest(range(0, nc)) AS cid FROM c)
         SELECT doc_id, CAST(cid AS INT) AS chunk_id,
                array_to_string(toks[cid * 64 + 1 : cid * 64 + 96], ' ') AS chunk,
                CAST(least(96, n - cid * 64) AS INT) AS n_chunk_tokens
         FROM e""",
    "llm_line_dedup" ->
      """WITH d AS (SELECT doc_id,
                           list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       t -> length(t) > 0) AS toks
                    FROM documents),
         r AS (SELECT doc_id,
                      list_transform(
                        range(0, greatest(CAST(ceil(len(toks) / 10.0) AS INT), 1)),
                        i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' '))
                        AS lines
               FROM d),
         l AS (SELECT doc_id,
                      CAST(unnest(range(0, len(lines))) AS INT) AS pos,
                      unnest(lines) AS line
               FROM r),
         b AS (SELECT md5(line) AS h FROM l GROUP BY 1 HAVING count(*) >= 2)
         SELECT l.doc_id, l.pos, l.line
         FROM l LEFT JOIN b ON md5(l.line) = b.h
         WHERE b.h IS NULL""",
    "llm_token_count" ->
      """SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                     t -> length(t) > 0)) AS INT) AS n_tokens
         FROM documents""",
    "llm_url_canon" -> urlCanonSql(
      "SELECT doc_id, url, canon_url FROM k"),
    "llm_url_dedup" -> urlCanonSql(
      """SELECT md5(canon_url) AS url_md5, min(canon_url) AS canon_url,
                min(doc_id) AS keep_id, count(*) AS dup_count
         FROM k GROUP BY md5(canon_url)"""),
    "llm_fingerprint" ->
      """SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",
    "llm_pii_scrub" ->
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS clean
         FROM documents""",
    "llm_sample_stratified" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY md5(text), doc_id) AS rn
           FROM documents) WHERE rn <= 20""",
    "llm_pack_windows" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, n_tokens,
                CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) / 4096) AS BIGINT)
                  AS window_id
         FROM t""",
    "llm_quantize_int8" ->
      """WITH t AS (
           SELECT vec_id,
                  127.0 / greatest(
                    list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale,
                  embedding
           FROM embeddings)
         SELECT vec_id, round(scale, 6) AS scale,
                array_to_string(list_transform(embedding,
                  x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)
                            AS VARCHAR)), ',') AS q
         FROM t""",
    "llm_dedup_clusters" ->
      """WITH n AS (
           SELECT doc_id AS id FROM documents WHERE doc_id % 10 < 3
           UNION
           SELECT doc_id + 1 FROM documents WHERE doc_id % 10 < 3)
         SELECT id, CAST(id - (id % 10) AS BIGINT) AS cluster FROM n""",
    "llm_pack_windows_sharded" ->
      """WITH t AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, source, n_tokens,
                CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                        ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
                      / 4096) AS BIGINT) AS window_id
         FROM t""",
    "llm_pack_segments" ->
      """WITH t AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
                  sum(n_tokens) OVER (PARTITION BY source
                      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT doc_id, source,
                CAST(floor((cum - n_tokens) / 4096) AS BIGINT) AS window_id,
                CAST(cum - n_tokens AS BIGINT) AS seg_start,
                CAST(cum AS BIGINT) AS seg_end, n_tokens
         FROM c""",
    "llm_text_normalize" ->
      """WITH r AS (SELECT doc_id,
                text || '  e' || chr(769) || chr(7) || chr(9) || 'end' AS raw
              FROM documents),
         n AS (SELECT doc_id, length(raw)::INT AS n_raw,
                 trim(regexp_replace(regexp_replace(nfc_normalize(raw),
                      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                      '[ \t\n\r]+', ' ', 'g')) AS norm
               FROM r)
         SELECT doc_id, n_raw, norm, length(norm)::INT AS n_norm FROM n""",
    "llm_media_meta" ->
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                CAST(16 + octet_length(encode(text)) % 240 AS INT) AS width,
                CAST(16 + (octet_length(encode(text)) * 7) % 240 AS INT) AS height,
                3 AS channels, 'stub' AS format
         FROM documents""",
    "llm_image_decode" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
         px AS (SELECT doc_id, t1.range AS x, t2.range AS y
                FROM ids, range(0, 24) t1, range(0, 16) t2),
         v AS (SELECT doc_id, x, y,
                 (doc_id*31 + x*7 + y*13) % 256 AS r,
                 (doc_id*17 + x*11 + y*5) % 256 AS g,
                 (doc_id*23 + x*3 + y*19) % 256 AS b
               FROM px)
         SELECT doc_id AS media_id, 24 AS width, 16 AS height, 3 AS channels,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((3*r + 5*g + 7*b) * ((x + y*24) % 1000 + 1))::BIGINT AS px_checksum
         FROM v GROUP BY 1""",
    "llm_image_neardup" ->
      """WITH d AS (SELECT doc_id, doc_id % 64 AS base, doc_id // 64 AS v
                    FROM documents),
         px AS (SELECT doc_id, base, v, t1.range AS x, t2.range AS y
                FROM d, range(0, 24) t1, range(0, 16) t2),
         g AS (SELECT doc_id, x, y,
                 (CASE WHEN v > 0 AND x = v % 24 AND y = (v // 24) % 16
                       THEN ((base*31 + x*7 + y*13) % 256 + 128) % 256
                       ELSE (base*31 + x*7 + y*13) % 256 END)
                 + (base*17 + x*11 + y*5) % 256
                 + (base*23 + x*3 + y*19) % 256 AS gray
               FROM px),
         blk AS (SELECT doc_id, (y // 2) * 8 + (x // 3) AS k, sum(gray) AS bs
                 FROM g GROUP BY 1, 2),
         tot AS (SELECT doc_id, sum(bs) AS ts FROM blk GROUP BY 1),
         bits AS (SELECT b.doc_id, k,
                    CASE WHEN 64*bs > ts THEN 1 ELSE 0 END AS bit
                  FROM blk b JOIN tot USING (doc_id)),
         bands AS (SELECT doc_id, k // 16 AS band,
                     sum(bit * (1::BIGINT << (k % 16)))::BIGINT AS bv
                   FROM bits GROUP BY 1, 2),
         cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bv = b.bv
                  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         ham AS (SELECT c.id_a, c.id_b,
                   sum(bit_count(xor(x.bv, y.bv)))::INT AS hamming
                 FROM cand c
                 JOIN bands x ON x.doc_id = c.id_a
                 JOIN bands y ON y.doc_id = c.id_b AND y.band = x.band
                 GROUP BY 1, 2)
         SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2""",
    "llm_image_clusters" ->
      """WITH RECURSIVE
 bb AS (SELECT bs.base, (t2.range // 2) * 8 + (t1.range // 3) AS k,
          sum((bs.base*31 + t1.range*7 + t2.range*13) % 256
            + (bs.base*17 + t1.range*11 + t2.range*5) % 256
            + (bs.base*23 + t1.range*3 + t2.range*19) % 256) AS bs0
        FROM range(0, 64) bs(base), range(0, 24) t1, range(0, 16) t2
        GROUP BY 1, 2),
 bbl AS (SELECT base, list(bs0 ORDER BY k) AS bl FROM bb GROUP BY base),
 dd AS (SELECT doc_id, doc_id % 64 AS base, doc_id // 64 AS v FROM documents),
 dk AS (SELECT doc_id, base, v, v % 24 AS xd, (v // 24) % 16 AS yd FROM dd),
 dj AS (SELECT doc_id, base, v,
               ((yd // 2) * 8 + (xd // 3)) AS kd,
               ((base*31 + xd*7 + yd*13) % 256 + 128) % 256
                 - (base*31 + xd*7 + yd*13) % 256 AS delta
        FROM dk),
 h0 AS (SELECT d.doc_id,
               list_transform(b.bl, (x, i) ->
                 x + CASE WHEN d.v > 0 AND i - 1 = d.kd
                          THEN d.delta ELSE 0 END) AS bs
        FROM dj d JOIN bbl b USING (base)),
 h1 AS (SELECT doc_id, bs, list_sum(bs) AS ts FROM h0),
 h2 AS (SELECT doc_id,
          list_transform(range(0, 4), b ->
            list_sum(list_transform(range(0, 16), j ->
              CASE WHEN 64 * bs[16 * b + j + 1] > ts
                   THEN (1::BIGINT << j) ELSE 0::BIGINT END))) AS bvl
        FROM h1),
 hk AS (SELECT doc_id, bvl,
               array_to_string(bvl, ',') AS hkey FROM h2),
 reps AS (SELECT hkey, min(doc_id) AS rep FROM hk GROUP BY 1),
 member AS (SELECT r.rep AS id_a, h.doc_id AS id_b
            FROM hk h JOIN reps r USING (hkey) WHERE h.doc_id <> r.rep),
 rb AS (SELECT h.doc_id, u.band - 1 AS band, h.bvl[u.band] AS bv
        FROM hk h JOIN reps r ON h.doc_id = r.rep,
             unnest(range(1, 5)) u(band)),
 cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM rb a JOIN rb b ON a.band = b.band AND a.bv = b.bv
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
 nearp AS (SELECT c.id_a, c.id_b
           FROM cand c JOIN rb x ON x.doc_id = c.id_a
           JOIN rb y ON y.doc_id = c.id_b AND y.band = x.band
           GROUP BY 1, 2
           HAVING sum(bit_count(xor(x.bv, y.bv))) <= 2),
 -- connected components over REPS ONLY (474 nodes at the 100x replica):
 -- member edges are rep-stars (rep = min id of its identical-hash group,
 -- so every member id >= its rep), hence a component's min id is the min
 -- over its reps and each member inherits its rep's cluster. The direct
 -- all-labels closure over member edges was Theta(|cluster|^2) rows —
 -- 527M at the 100x replica (the round-13 sweep OOM)
 rne AS (SELECT id_a AS a, id_b AS b FROM nearp
         UNION SELECT id_b, id_a FROM nearp),
 rl AS (SELECT a AS id, a AS c FROM rne
        UNION
        SELECT e2.a, rl.c FROM rne e2 JOIN rl ON rl.id = e2.b),
 rc AS (SELECT id AS rep, min(c) AS cl FROM rl GROUP BY id),
 nodes AS (SELECT id_a AS id, id_a AS rep FROM member
           UNION SELECT id_b, id_a FROM member
           UNION SELECT id_a, id_a FROM nearp
           UNION SELECT id_b, id_b FROM nearp)
 SELECT n.id, min(coalesce(rc.cl, n.rep))::BIGINT AS cluster
 FROM nodes n LEFT JOIN rc ON rc.rep = n.rep GROUP BY n.id""",
    "llm_media_frames" ->
      """SELECT doc_id AS media_id, CAST(unnest(range(4)) AS INT) AS frame_idx,
                CAST(unnest(range(4)) * 40 AS BIGINT) AS frame_ts_ms
         FROM documents WHERE octet_length(encode(text)) > 0""",
    "llm_media_av" ->
      """SELECT doc_id AS media_id,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 44 + octet_length(encode(text))
                          ELSE 140 + octet_length(encode(text)) END AS INT) AS n_bytes,
                CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS kind,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2 END AS INT) AS channels,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + ((doc_id // 2) % 3) * 4000 END AS INT) AS sample_rate,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 16 END AS INT) AS bits_per_sample,
                CAST(CASE WHEN doc_id % 2 = 0
                     THEN (octet_length(encode(text)) * 1000)
                          // ((8000 + ((doc_id // 2) % 3) * 4000) * (1 + (doc_id // 2) % 2) * 2)
                     ELSE (octet_length(encode(text)) * 25 * 1000) // (1000 + doc_id % 10)
                     END AS BIGINT) AS duration_ms
         FROM documents""",
    "llm_video_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
         fr AS (SELECT doc_id, t0.range AS f FROM ids, range(0, 3) t0),
         px AS (SELECT doc_id, f, t1.range AS x, t2.range AS y
                FROM fr, range(0, 24) t1, range(0, 16) t2),
         v AS (SELECT doc_id, f, x, y,
                 (doc_id*31 + f*29 + x*7 + y*13) % 256 AS r,
                 (doc_id*17 + f*23 + x*11 + y*5) % 256 AS g,
                 (doc_id*23 + f*41 + x*3 + y*19) % 256 AS b
               FROM px)
         SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           CAST(f * 40 AS BIGINT) AS frame_ts_ms,
           24 AS width, 16 AS height,
           sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
           sum(b)::BIGINT AS sum_b,
           sum((3*r + 5*g + 7*b) * ((x + y*24) % 1000 + 1))::BIGINT AS px_checksum,
           CASE WHEN doc_id % 2 = 0 THEN 'dib' ELSE 'imageio' END AS codec
         FROM v GROUP BY 1, 2, 3""",
    "llm_decontaminate_spans" ->
      """WITH b AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         t -> length(t) > 0) AS toks,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS lt
           FROM documents),
         w AS (
           SELECT doc_id,
             unnest(generate_series(1, greatest(len(lt) - 7, 0))) AS i1,
             unnest(list_transform(generate_series(1, greatest(len(lt) - 7, 0)),
               i -> CAST(md5_number_lower(array_to_string(lt[i:i+7], ' '))
                    & 9223372036854775807 AS BIGINT))) AS hv
           FROM b),
         bg AS (SELECT DISTINCT hv FROM w WHERE doc_id % 41 = 0),
         cov AS (SELECT DISTINCT doc_id, p FROM (
           SELECT doc_id, unnest(generate_series(i1 - 1, i1 + 6)) AS p
           FROM w WHERE hv IN (SELECT hv FROM bg))),
         cv AS (SELECT doc_id, list(p) AS cover, count(*) AS nrem
                FROM cov GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(array_to_string(list_filter(b.toks,
                  (t, i) -> NOT list_contains(
                    coalesce(cv.cover, CAST([] AS BIGINT[])), i - 1)), ' '),
                  '') AS clean_text,
                CAST(len(b.toks) AS INT) AS n_tokens,
                CAST(coalesce(cv.nrem, 0) AS INT) AS n_removed
         FROM b LEFT JOIN cv USING (doc_id)""",
    "llm_chunk_sentences" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
               x -> trim(x)), x -> length(x) > 0) AS sents
           FROM documents),
         t AS (
           SELECT doc_id, sents,
             list_transform(sents, x -> len(list_filter(
               regexp_split_to_array(x, '\s+'), w -> length(w) > 0))) AS stoks
           FROM d),
         c AS (
           SELECT doc_id, sents, stoks,
             list_transform(range(1, len(stoks) + 1),
               i -> CAST(COALESCE(list_sum(stoks[1:CAST(i-1 AS INT)]), 0)
                         // 40 AS INT)) AS assign
           FROM t WHERE len(sents) > 0),
         k AS (
           SELECT doc_id, sents, stoks, assign,
             CAST(unnest(range(0, assign[-1] + 1)) AS INT) AS chunk_id
           FROM c)
         SELECT doc_id, chunk_id,
           array_to_string(list_transform(
             list_filter(range(1, len(sents) + 1),
               i -> assign[CAST(i AS INT)] = chunk_id),
             i -> sents[CAST(i AS INT)]), ' ') AS chunk,
           CAST(len(list_filter(assign, a -> a = chunk_id)) AS INT)
             AS n_sentences,
           CAST(COALESCE(list_sum(list_transform(
             list_filter(range(1, len(stoks) + 1),
               i -> assign[CAST(i AS INT)] = chunk_id),
             i -> stoks[CAST(i AS INT)])), 0) AS INT) AS n_chunk_tokens
         FROM k""",
    "llm_bigram_lm" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS toks
           FROM documents),
         bge AS (
           SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS s
           FROM d),
         bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bge),
         docbg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg
                   GROUP BY 1, 2, 3),
         bgcnt AS (SELECT w1, w2, sum(tf) AS cb FROM docbg GROUP BY 1, 2),
         uni AS (SELECT unnest(toks) AS w FROM d),
         unic AS (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
         tot AS (SELECT count(*) AS total FROM uni),
         terms AS (
           SELECT db.doc_id, db.tf,
             CAST(round(ln(0.7::DOUBLE * CAST(bc.cb AS DOUBLE) / u1.cu
                + 0.3::DOUBLE * CAST(u2.cu AS DOUBLE) / tot.total) * 1e9, 0)
               AS BIGINT) AS termq
           FROM docbg db
           JOIN bgcnt bc USING (w1, w2)
           JOIN unic u1 ON u1.w = db.w1
           JOIN unic u2 ON u2.w = db.w2, tot)
         SELECT doc_id, round(CAST(sum(tf * termq) AS DOUBLE)
                  / CAST(sum(tf) AS DOUBLE) / 1e9, 4) AS avg_logp2,
                CAST(sum(tf) AS BIGINT) AS n_bigrams
         FROM terms GROUP BY 1""",
    "llm_kn_lm" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS toks
           FROM documents),
         bge AS (
           SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS s
           FROM d),
         bg AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bge),
         docbg AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg
                   GROUP BY 1, 2, 3),
         bgcnt AS (SELECT w1, w2, sum(tf) AS cb FROM docbg GROUP BY 1, 2),
         ctx AS (SELECT w1, sum(cb) AS c1, count(*) AS n1fwd
                 FROM bgcnt GROUP BY 1),
         cont AS (SELECT w2, count(*) AS n1back FROM bgcnt GROUP BY 1),
         types AS (SELECT count(*) AS btypes FROM bgcnt),
         terms AS (
           SELECT db.doc_id, db.tf,
             CAST(round(ln(greatest(CAST(bc.cb AS DOUBLE) - 0.75, 0.0) / cx.c1
                + 0.75 * cx.n1fwd / cx.c1
                  * (co.n1back / CAST(ty.btypes AS DOUBLE))) * 1e9, 0)
               AS BIGINT) AS termq
           FROM docbg db
           JOIN bgcnt bc USING (w1, w2)
           JOIN ctx cx ON cx.w1 = db.w1
           JOIN cont co ON co.w2 = db.w2, types ty)
         SELECT doc_id, round(CAST(sum(tf * termq) AS DOUBLE)
                  / CAST(sum(tf) AS DOUBLE) / 1e9, 4) AS avg_logp_kn,
                CAST(sum(tf) AS BIGINT) AS n_bigrams
         FROM terms GROUP BY 1""",
    "llm_curriculum_order" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> length(t) > 0)) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         uni AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM uni),
         p AS (SELECT word, CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e9,
                 0) AS BIGINT) AS logpq
               FROM uni CROSS JOIN tot),
         lp AS (SELECT tf.doc_id,
                       round(CAST(sum(tf.tf * p.logpq) AS DOUBLE)
                         / CAST(sum(tf.tf) AS DOUBLE) / 1e9, 4) AS avg_logp
                FROM tf JOIN p USING (word) GROUP BY 1),
         rk AS (SELECT doc_id, avg_logp,
                       rank() OVER (ORDER BY -avg_logp ASC) AS r,
                       count(*) OVER () AS n
                FROM lp),
         b AS (SELECT doc_id, round(exp(-avg_logp), 4) AS ppl,
                      least(2, CAST(floor((r - 1) * 3.0 / n) AS BIGINT))
                        AS band
               FROM rk),
         k AS (SELECT doc_id, ppl, band,
                      CAST(md5_number_lower('cur:' || CAST(doc_id AS VARCHAR))
                           & 9223372036854775807 AS BIGINT) AS ck
               FROM b)
         SELECT doc_id, CAST(band AS INT) AS band, ppl,
                row_number() OVER (ORDER BY band, ck, doc_id) AS position
         FROM k ORDER BY position""",
    "llm_moore_lewis" ->
      """WITH tk AS (
           SELECT doc_id, lang = 'en' AS ind, t.w AS w
           FROM documents, unnest(list_filter(
             regexp_split_to_array(trim(lower(text)), '\s+'),
             q -> length(q) > 0)) AS t(w)),
         c AS (SELECT w, count(*) AS cg,
                      sum(CASE WHEN ind THEN 1 ELSE 0 END) AS ci
               FROM tk GROUP BY w),
         tt AS (SELECT CAST(sum(cg) AS BIGINT) AS ng,
                       CAST(sum(ci) AS BIGINT) AS ni,
                       CAST(count(*) AS BIGINT) AS v
                FROM c),
         d AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
         s AS (SELECT d.doc_id,
                 round(CAST(sum(tf * CAST(round(
                          ((ln(CAST(c.ci AS DOUBLE) + 1.0)
                            - ln(CAST(tt.ni + tt.v AS DOUBLE)))
                         - (ln(CAST(c.cg AS DOUBLE) + 1.0)
                            - ln(CAST(tt.ng + tt.v AS DOUBLE)))) * 1e9, 0)
                        AS BIGINT)) AS DOUBLE)
                   / CAST(sum(tf) AS DOUBLE) / 1e9, 4) + 0 AS ml_score,
                 CAST(sum(tf) AS BIGINT) AS n_tokens
               FROM d JOIN c USING (w), tt GROUP BY d.doc_id),
         r AS (SELECT doc_id, n_tokens, ml_score,
                 row_number() OVER (ORDER BY ml_score DESC, doc_id) AS rank
               FROM s),
         n AS (SELECT count(*) AS n FROM s)
         SELECT doc_id, n_tokens, ml_score, rank,
                rank <= greatest(1, CAST(floor(n.n * 0.25) AS BIGINT))
                  AS selected
         FROM r, n ORDER BY rank""",
    "llm_readability" ->
      """WITH w AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS toks,
             greatest(len(list_filter(regexp_split_to_array(text, '[.!?]'),
                      s2 -> length(trim(s2)) > 0)), 1) AS ns
           FROM documents),
         f AS (SELECT doc_id, len(toks) AS nw, ns,
                 CAST(coalesce(list_sum(list_transform(toks, t ->
                   greatest(len(list_filter(
                     string_split_regex(t, '[^aeiouy]+'),
                     p -> length(p) > 0)), 1))), 0) AS BIGINT) AS nsyl
               FROM w)
         SELECT doc_id, CAST(nw AS INT) AS n_words,
                CAST(ns AS INT) AS n_sentences, nsyl AS n_syllables,
                CASE WHEN nw > 0 THEN
                  round(206.835 - 1.015 * (CAST(nw AS DOUBLE) / ns)
                        - 84.6 * (CAST(nsyl AS DOUBLE) / nw), 4)
                END AS fre,
                CASE WHEN nw > 0 THEN
                  round(0.39 * (CAST(nw AS DOUBLE) / ns)
                        + 11.8 * (CAST(nsyl AS DOUBLE) / nw) - 15.59, 4)
                END AS fk_grade
         FROM f""",
    // replays shard hash, token/char counts, and the exact digest sum
    "llm_export_manifest" ->
      """WITH s AS (
           SELECT CAST((md5_number_lower('shard:' || CAST(doc_id AS VARCHAR))
                        & 9223372036854775807) % 8 AS INT) AS shard,
                  CAST(len(list_filter(regexp_split_to_array(trim(text),
                    '\s+'), t -> length(t) > 0)) AS BIGINT) AS t,
                  CAST(length(text) AS BIGINT) AS c,
                  CAST(md5_number_lower(text) & 9223372036854775807
                       AS BIGINT) AS d
           FROM documents)
         SELECT shard, CAST(count(*) AS BIGINT) AS docs,
                CAST(sum(t) AS BIGINT) AS tokens,
                CAST(sum(c) AS BIGINT) AS chars,
                CAST(CAST(sum(d) AS HUGEINT) AS VARCHAR) AS digest_sum
         FROM s GROUP BY shard ORDER BY shard""",
    // chains the proven per-stage fragments: the gopher/C4 verdict, the
    // stopword-score langid, min-id-per-digest, the exact+LSH connected
    // components, and 8-gram decontamination — counting survivors per stage
    "llm_pipeline_funnel" ->
      ("""WITH RECURSIVE
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
         bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         gb AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         t -> length(t) > 0) AS toks,
             list_filter(regexp_split_to_array(text, '\n'),
                         l -> length(trim(l)) > 0) AS lines
           FROM corpus),
         gf AS (
           SELECT doc_id, text, len(toks) AS nw, len(lines) AS nl,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / len(toks) ELSE 0 END AS mwl,
             len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-*•]'))) AS bullet_lines,
             len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS ell_lines,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ells,
             len(list_filter(toks,
                 t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words
           FROM gb),
         r1 AS MATERIALIZED (
           SELECT doc_id, text FROM gf
           WHERE NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{')
             AND nw >= 50 AND nw <= 100000 AND mwl >= 3 AND mwl <= 10
             AND (CASE WHEN nw > 0 THEN CAST(hashes + ells AS DOUBLE) / nw
                       ELSE 0 END) <= 0.1
             AND (CASE WHEN nl > 0 THEN CAST(bullet_lines AS DOUBLE) / nl
                       ELSE 0 END) <= 0.9
             AND (CASE WHEN nl > 0 THEN CAST(ell_lines AS DOUBLE) / nl
                       ELSE 0 END) <= 0.3
             AND (CASE WHEN nw > 0
                       THEN CAST(alpha_words AS DOUBLE) / nw >= 0.8
                       ELSE FALSE END)),
         lt AS (
           SELECT doc_id,
             list_transform(list_filter(regexp_split_to_array(trim(text),
               '\s+'), t -> length(t) > 0), t -> lower(t)) AS toks
           FROM r1),
         l2 AS (
           SELECT doc_id,
             CAST(len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','mit','ein','zu','den'], t))) AS INT) AS s_de,
             CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','with','for','it'], t))) AS INT) AS s_en,
             CAST(len(list_filter(toks, t -> list_contains(['el','la','los','las','y','de','que','es','un','para'], t))) AS INT) AS s_es,
             CAST(len(list_filter(toks, t -> list_contains(['le','la','les','et','de','un','une','est','que','pour'], t))) AS INT) AS s_fr,
             CAST(len(list_filter(toks, t -> list_contains(['il','la','che','di','e','un','una','per','non','sono'], t))) AS INT) AS s_it
           FROM lt),
         r2 AS MATERIALIZED (
           SELECT r1.doc_id, r1.text
           FROM r1 JOIN l2 ON l2.doc_id = r1.doc_id
           WHERE greatest(s_de,s_en,s_es,s_fr,s_it) > 0
             AND NOT s_de = greatest(s_de,s_en,s_es,s_fr,s_it)
             AND s_en = greatest(s_de,s_en,s_es,s_fr,s_it)),
         ex AS (SELECT min(doc_id) AS keep_id FROM r2 GROUP BY md5(text)),
         r3 AS (SELECT doc_id FROM r2
                WHERE doc_id IN (SELECT keep_id FROM ex)),
         dt AS (SELECT min(doc_id) AS doc, text FROM r2 GROUP BY text),
         dtk AS (SELECT doc,
                   list_filter(regexp_split_to_array(trim(lower(text)),
                               '\s+'), x -> length(x) > 0) AS toks
                 FROM dt),
         shl AS (SELECT doc,
                  CASE WHEN len(toks) >= 3 THEN
                    list_distinct(list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+2], ' ')))
                  WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                  ELSE [] END AS sh
                FROM dtk),
         sn AS MATERIALIZED (SELECT doc, sh FROM shl WHERE len(sh) > 0),
         he AS (SELECT e.doc, sd.seed,
                  CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                       & 9223372036854775807 AS BIGINT) AS hv
                FROM (SELECT doc, unnest(sh) AS shingle FROM sn) e
                CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         mh AS (SELECT doc, seed, min(hv) AS minh FROM he GROUP BY 1, 2),
         bk AS (SELECT doc, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM mh GROUP BY doc, seed // 4),
         cp AS (SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
                FROM bk a JOIN bk b
                  ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc < b.doc),
         nearp AS (SELECT cp.id_a, cp.id_b
                   FROM cp JOIN sn x ON x.doc = cp.id_a
                           JOIN sn y ON y.doc = cp.id_b
                   WHERE round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / len(list_distinct(x.sh || y.sh)), 6) >= 0.4),
         exactp AS (SELECT r.id_a, g.doc_id AS id_b
                    FROM (SELECT md5(text) AS hh, min(doc_id) AS id_a
                          FROM r2 GROUP BY 1) r
                    JOIN (SELECT doc_id, md5(text) AS hh FROM r2) g
                      USING (hh)
                    WHERE g.doc_id <> r.id_a),
         """ + repCcSql + """,
         r4 AS MATERIALIZED (
           SELECT doc_id, text FROM r2
           WHERE doc_id NOT IN
             (SELECT id FROM labels WHERE cluster <> id)),
         w8 AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)),
                              '\s+'), t -> length(t) > 0) AS ws
                FROM r4),
         g8 AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1,
                    greatest(len(ws) - 7, 0)),
                    i -> array_to_string(ws[i:i+7], ' '))) AS gram
                FROM w8),
         wb AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)),
                              '\s+'), t -> length(t) > 0) AS ws
                FROM bench),
         gb8 AS (SELECT DISTINCT
                   unnest(list_transform(generate_series(1,
                     greatest(len(ws) - 7, 0)),
                     i -> array_to_string(ws[i:i+7], ' '))) AS gram
                 FROM wb),
         hits AS (SELECT DISTINCT g8.doc_id
                  FROM g8 JOIN gb8 USING (gram)),
         r5 AS (SELECT doc_id FROM r4
                WHERE doc_id NOT IN (SELECT doc_id FROM hits))
         SELECT * FROM (
           SELECT 0 AS step, 'raw' AS stage,
                  (SELECT count(*) FROM corpus) AS docs
           UNION ALL SELECT 1, 'rules', (SELECT count(*) FROM r1)
           UNION ALL SELECT 2, 'lang_en', (SELECT count(*) FROM r2)
           UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM r3)
           UNION ALL SELECT 4, 'near_dedup', (SELECT count(*) FROM r4)
           UNION ALL SELECT 5, 'decontaminated', (SELECT count(*) FROM r5)
         ) ORDER BY step"""),
    "llm_nb_classify" -> nbScoreSql(
      """SELECT doc_id, n_tokens, round(logit, 4) AS logit,
                logit > 0 AS predicted
         FROM sc"""),
    "llm_nb_auc" -> nbScoreSql(
      """, ev AS (SELECT sc.doc_id, round(sc.logit, 4) AS s,
                  (dd.lang = 'en') AS y
           FROM sc JOIN d dd ON dd.doc_id = sc.doc_id
           WHERE sc.doc_id % 3 = 1),
         rk AS (SELECT y, rank() OVER (ORDER BY s) AS r,
                  count(*) OVER (PARTITION BY s) AS g
                FROM ev)
         SELECT p, n,
                round((rsum - CAST(p AS DOUBLE) * (p + 1) / 2)
                      / (CAST(p AS DOUBLE) * n), 6) AS auc
         FROM (SELECT sum(CASE WHEN y THEN r + (g - 1) / 2.0 ELSE 0 END) AS rsum,
                      CAST(count(*) FILTER (WHERE y) AS BIGINT) AS p,
                      CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS n
               FROM rk)"""),
    "llm_nb_calibration" -> nbScoreSql(
      """, ev AS (SELECT sc.doc_id, round(sc.logit, 4) AS s,
                  (dd.lang = 'en') AS y
           FROM sc JOIN d dd ON dd.doc_id = sc.doc_id
           WHERE sc.doc_id % 3 = 1),
         pb AS (SELECT 1.0 / (1.0 + exp(-s)) AS p,
                       CAST(round(1.0 / (1.0 + exp(-s)) * 1e9, 0) AS BIGINT)
                         AS pq,
                       y FROM ev)
         SELECT CAST(LEAST(floor(p * 10), 9) AS INT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                round(CAST(sum(pq) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) / 1e9, 6) AS mean_predicted,
                round(avg(CASE WHEN y THEN 1.0 ELSE 0.0 END), 6) AS observed_rate
         FROM pb GROUP BY 1"""),
    // the ENTIRE 3-round gradient descent replayed: per-round sigmoid
    // pass, gradient sums, quantized update — then the weight/loss rows
    "llm_logreg" -> logRegSql(3, (1 to 3).map(r =>
      s"""SELECT $r AS round, round(w0, 6) AS w_bias, round(w1, 6) AS w_len,
                 round(w2, 6) AS w_punct, round(w3, 6) AS w_upper,
                 round(w4, 6) AS w_digit, round(w5, 6) AS w_sw, loss
          FROM w$r""").mkString("\n          UNION ALL\n          ")),
    // refit in SQL, score the held-out slice with the final weights, then
    // the same midrank-AUC identity as llm_nb_auc
    "llm_logreg_auc" -> logRegSql(3,
      """, ev AS (SELECT t.doc_id,
                  round(w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 +
                        w.w4 * x4 + w.w5 * x5, 6) AS s,
                  (t.y = 1.0) AS y
           FROM fx t, w3 w WHERE t.doc_id % 3 = 1),
         rk AS (SELECT y, rank() OVER (ORDER BY s) AS r,
                  count(*) OVER (PARTITION BY s) AS g
                FROM ev)
         SELECT p, n,
                round((rsum - CAST(p AS DOUBLE) * (p + 1) / 2)
                      / (CAST(p AS DOUBLE) * n), 6) AS auc
         FROM (SELECT sum(CASE WHEN y THEN r + (g - 1) / 2.0 ELSE 0 END) AS rsum,
                      CAST(count(*) FILTER (WHERE y) AS BIGINT) AS p,
                      CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS n
               FROM rk)"""),
    "llm_nb_pr" -> nbScoreSql(
      """, ev AS (SELECT sc.doc_id, round(sc.logit, 4) AS s,
                  (dd.lang = 'en') AS y
           FROM sc JOIN d dd ON dd.doc_id = sc.doc_id
           WHERE sc.doc_id % 3 = 1),
         evt AS (SELECT count(*) FILTER (WHERE y) AS p FROM ev),
         rr AS (SELECT doc_id, s, y,
                  row_number() OVER (ORDER BY s DESC, doc_id) AS rnk,
                  count(*) FILTER (WHERE y) OVER (ORDER BY s DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS tp
                FROM ev)
         SELECT CAST(rnk AS BIGINT) AS rank, s AS threshold, y AS is_pos,
                CAST(tp AS BIGINT) AS tp, CAST(rnk - tp AS BIGINT) AS fp,
                round(CAST(tp AS DOUBLE) / rnk, 6) AS prec,
                round(CAST(tp AS DOUBLE) / evt.p, 6) AS rec
         FROM rr, evt"""),
    "llm_nb_ap" -> nbScoreSql(
      """, ev AS (SELECT sc.doc_id, round(sc.logit, 4) AS s,
                  (dd.lang = 'en') AS y
           FROM sc JOIN d dd ON dd.doc_id = sc.doc_id
           WHERE sc.doc_id % 3 = 1),
         rr AS (SELECT y,
                  row_number() OVER (ORDER BY s DESC, doc_id) AS rnk,
                  count(*) FILTER (WHERE y) OVER (ORDER BY s DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS tp
                FROM ev)
         SELECT CAST(count(*) AS BIGINT) AS p,
                round(CAST(sum(CAST(round(CAST(tp AS DOUBLE) / rnk * 1e9, 0)
                        AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) / 1e9, 6) AS ap
         FROM rr WHERE y"""),
    "llm_dsir" ->
      """WITH d AS (
           SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> length(t) > 0) AS toks
           FROM documents),
         ng AS (
           SELECT doc_id, lang,
             flatten([toks, list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])]) AS ngs
           FROM d),
         ex AS (
           SELECT doc_id, lang,
             CAST((md5_number_lower(gg.u) & 9223372036854775807) % 64 AS INT) AS b
           FROM ng, unnest(ngs) AS gg(u)),
         ht AS (SELECT b, count(*) AS ct FROM ex WHERE lang = 'en' GROUP BY 1),
         hr AS (SELECT b, count(*) AS cr FROM ex GROUP BY 1),
         tot AS (SELECT (SELECT count(*) FROM ex WHERE lang = 'en') + 64 AS tt,
                        (SELECT count(*) FROM ex) + 64 AS rt),
         ratio AS (
           SELECT r.range AS b,
             CAST(round((ln((COALESCE(ht.ct, 0) + 1.0) / tot.tt)
               - ln((COALESCE(hr.cr, 0) + 1.0) / tot.rt)) * 1e9, 0)
               AS BIGINT) AS lrq
           FROM range(0, 64) r
           LEFT JOIN ht ON ht.b = r.range
           LEFT JOIN hr ON hr.b = r.range, tot),
         w AS (
           SELECT n.doc_id, CAST(len(n.ngs) AS INT) AS n_features,
             CAST(COALESCE((SELECT sum(ratio.lrq) FROM unnest(n.ngs) AS g(u)
               JOIN ratio ON ratio.b =
                 CAST((md5_number_lower(g.u) & 9223372036854775807) % 64 AS INT)),
               0) AS DOUBLE) / 1e9 AS logw
           FROM ng n),
         k AS (
           SELECT doc_id, n_features, logw,
             logw - ln(-ln(
               ((md5_number_lower(CAST(doc_id AS VARCHAR) || ':dsir')
                 & 9223372036854775807) % 281474976710656 + 0.5)
               / 281474976710656.0)) AS key
           FROM w),
         r AS (
           SELECT doc_id, n_features, logw, key,
             rank() OVER (ORDER BY -key) AS rk,
             count(*) OVER () AS n
           FROM k)
         SELECT doc_id, n_features, round(logw, 4) AS log_weight,
           round(key, 4) AS gumbel_key,
           rk <= greatest(ceil(n * 0.25), 1) AS selected
         FROM r""",
    "llm_gopher_c4" ->
      """WITH b AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         t -> length(t) > 0) AS toks,
             list_filter(regexp_split_to_array(text, '\n'),
                         l -> length(trim(l)) > 0) AS lines
           FROM documents),
         f AS (
           SELECT doc_id, text, len(toks) AS nw, len(lines) AS nl,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                 / len(toks) ELSE 0 END AS mwl,
             len(list_filter(regexp_split_to_array(text, '[.!?]'),
                 s2 -> length(trim(s2)) > 0)) AS ns,
             len(list_filter(lines, l ->
               len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                   t -> length(t) > 0)) < 5)) AS short_lines,
             len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-*•]'))) AS bullet_lines,
             len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS ell_lines,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ells,
             len(list_filter(toks,
                 t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
             (SELECT sum(CASE WHEN list_contains(
                 list_transform(toks, t -> lower(t)), w) THEN 1 ELSE 0 END)
              FROM (VALUES ('the'), ('be'), ('to'), ('of'), ('and'),
                           ('that'), ('have'), ('with')) req(w)) AS req_hits
           FROM b),
         r AS (
           SELECT doc_id, nw, nl, ns, mwl,
             CASE WHEN nl > 0 THEN CAST(short_lines AS DOUBLE) / nl
                  ELSE 0 END AS slf,
             ns >= 3 AS c4_sentences_ok,
             NOT contains(lower(text), 'lorem ipsum') AS c4_no_lorem,
             NOT contains(text, '{') AS c4_no_brace,
             nw >= 50 AND nw <= 100000 AS g_wordcount_ok,
             mwl >= 3 AND mwl <= 10 AS g_mwl_ok,
             (CASE WHEN nw > 0 THEN CAST(hashes + ells AS DOUBLE) / nw
                   ELSE 0 END) <= 0.1 AS g_symbol_ok,
             (CASE WHEN nl > 0 THEN CAST(bullet_lines AS DOUBLE) / nl
                   ELSE 0 END) <= 0.9 AS g_bullet_ok,
             (CASE WHEN nl > 0 THEN CAST(ell_lines AS DOUBLE) / nl
                   ELSE 0 END) <= 0.3 AS g_ellipsis_ok,
             CASE WHEN nw > 0 THEN CAST(alpha_words AS DOUBLE) / nw >= 0.8
                  ELSE FALSE END AS g_alpha_ok,
             req_hits >= 2 AS g_stopwords_ok
           FROM f)
         SELECT doc_id, CAST(nw AS INT) AS n_words, CAST(nl AS INT) AS n_lines,
           CAST(ns AS INT) AS n_sentences, round(mwl, 6) AS mean_word_len,
           round(slf, 6) AS c4_short_line_frac,
           c4_sentences_ok, c4_no_lorem, c4_no_brace, g_wordcount_ok,
           g_mwl_ok, g_symbol_ok, g_bullet_ok, g_ellipsis_ok, g_alpha_ok,
           g_stopwords_ok,
           (c4_sentences_ok AND c4_no_lorem AND c4_no_brace AND
            g_wordcount_ok AND g_mwl_ok AND g_symbol_ok AND g_bullet_ok AND
            g_ellipsis_ok AND g_alpha_ok AND g_stopwords_ok) AS keep
         FROM r""",
    "llm_quality" -> qualitySql(
      """SELECT doc_id, CAST(nt AS INT) AS n_tokens,
                round(mwl, 6) AS mean_word_len, round(pr, 6) AS punct_ratio,
                round(ur, 6) AS upper_ratio, round(dr, 6) AS digit_ratio,
                round(sr, 6) AS stopword_ratio, round(q, 6) AS quality
         FROM f"""),
    "llm_langid" -> (langidPredSql + " SELECT doc_id, lang_pred FROM pred"),
    // confusion matrix of the n-gram langid vs the labeled lang column —
    // the per-dataset-card classifier-eval table; prediction CTEs shared
    // with llm_langid
    "llm_langid_confusion" -> (langidPredSql + """,
         m AS (SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
               FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
         tt AS (SELECT lang, sum(n) AS t FROM m GROUP BY 1)
         SELECT m.lang, m.lang_pred, m.n,
                round(CAST(m.n AS DOUBLE) / tt.t, 6) AS frac
         FROM m JOIN tt USING (lang)"""),
    "llm_repetition" ->
      """WITH w AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                      t -> length(t) > 0) AS ws
           FROM documents),
         b AS (
           SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd,
                  list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
                                 i -> ws[i] || ' ' || ws[i+1]) AS bgs
           FROM w),
         c AS (SELECT doc_id, bg, count(*) AS n
               FROM (SELECT doc_id, unnest(bgs) AS bg FROM b) GROUP BY 1, 2),
         m AS (SELECT doc_id, max(n) AS mx FROM c GROUP BY 1)
         SELECT b.doc_id,
                CAST(b.nw AS INT) AS n_words,
                CAST(b.nd AS INT) AS n_distinct_words,
                round(1.0 - b.nd / b.nw, 4) AS dup_word_frac,
                CAST(len(b.bgs) AS INT) AS n_bigrams,
                CAST(coalesce(m.mx, 0) AS BIGINT) AS top_bigram_count,
                round(coalesce(m.mx, 0) / nullif(len(b.bgs), 0), 4) AS top_bigram_frac
         FROM b LEFT JOIN m USING (doc_id)""",
    "llm_decontaminate" ->
      """WITH w AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                      t -> length(t) > 0) AS ws
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, greatest(len(ws) - 7, 0)),
                                        i -> array_to_string(ws[i:i+7], ' '))) AS gram
           FROM w),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
         h AS (SELECT doc_id, count(*) AS n FROM dg JOIN bg USING (gram) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hit_grams,
                CAST(coalesce(h.n, 0) > 0 AS INT) AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
         LEFT JOIN h USING (doc_id)""",
    // the booleans are the contract: DuckDB recomputes n_docs/n_exact
    // exactly; a Bloom false negative or an fpp blow-up flips a bit and
    // fails the hash compare (same pattern as the ANN recall floors)
    "llm_decontaminate_bloom" ->
      """WITH w AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                      t -> length(t) > 0) AS ws
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, greatest(len(ws) - 7, 0)),
                                        i -> array_to_string(ws[i:i+7], ' '))) AS gram
           FROM w),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
         h AS (SELECT doc_id FROM dg JOIN bg USING (gram) GROUP BY 1)
         SELECT (SELECT count(*) FROM documents WHERE doc_id % 97 <> 0) AS n_docs,
                CAST((SELECT count(*) FROM h) AS BIGINT) AS n_exact,
                true AS no_false_negatives,
                true AS fp_within_bound""",
    "llm_span_dedup" ->
      """WITH b AS (
           SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      t -> length(t) > 0) AS toks
           FROM documents),
         w AS (
           SELECT doc_id,
                  unnest(generate_series(1, greatest(len(toks) - 3, 0))) AS i1,
                  unnest(list_transform(generate_series(1, greatest(len(toks) - 3, 0)),
                    i -> CAST(md5_number_lower(array_to_string(toks[i:i+3], ' '))
                         & 9223372036854775807 AS BIGINT))) AS hv
           FROM b),
         d AS (SELECT hv FROM w GROUP BY hv HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT DISTINCT doc_id, p FROM (
           SELECT doc_id, unnest(generate_series(i1 - 1, i1 + 2)) AS p
           FROM w WHERE hv IN (SELECT hv FROM d))),
         cv AS (SELECT doc_id, list(p) AS cover, count(*) AS nrem
                FROM cov GROUP BY doc_id)
         SELECT b.doc_id,
                coalesce(array_to_string(list_filter(b.toks,
                  (t, i) -> NOT list_contains(coalesce(cv.cover, CAST([] AS BIGINT[])), i - 1)),
                  ' '), '') AS clean_text,
                CAST(len(b.toks) AS INT) AS n_tokens,
                CAST(coalesce(cv.nrem, 0) AS INT) AS n_removed
         FROM b LEFT JOIN cv USING (doc_id)""",
    // replays the cosine ranking, then MRR and the rank-ordered DCG fold
    // with the min(R,k) ideal prefix
    "llm_retrieval_eval" ->
      """WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         q AS (SELECT vec_id AS query_id, v AS qv FROM n
               WHERE vec_id % 100 = 0),
         s AS (
           SELECT q.query_id, c.vec_id AS nn_id,
                  list_inner_product(c.v, q.qv) AS sim0
           FROM n c, q WHERE c.vec_id <> q.query_id),
         r AS (
           SELECT query_id, nn_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim0 DESC, nn_id) AS rk
           FROM s),
         t AS (SELECT query_id, nn_id, rk FROM r WHERE rk <= 5),
         lab AS (SELECT vec_id, label FROM embeddings),
         tr AS (SELECT t.query_id, t.rk,
                  CASE WHEN ql.label = nl.label THEN 1.0 ELSE 0.0 END AS rel,
                  ql.label AS qlab
                FROM t JOIN lab ql ON ql.vec_id = t.query_id
                       JOIN lab nl ON nl.vec_id = t.nn_id),
         cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
         pq AS (SELECT query_id, qlab,
                  CAST(sum(rel) AS BIGINT) AS hits,
                  min(CASE WHEN rel > 0 THEN rk END) AS first_rel,
                  list_sum(list(rel / log2(rk + 1.0) ORDER BY rk)) AS dcg
                FROM tr GROUP BY 1, 2),
         m AS (SELECT pq.query_id,
                 CAST(cnt.n - 1 AS BIGINT) AS n_rel, pq.hits,
                 round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
                 pq.dcg,
                 CASE WHEN cnt.n - 1 >= 1 THEN
                   list_sum(list_transform(
                     range(1, least(cnt.n - 1, 5) + 1),
                     i -> 1.0 / log2(CAST(i AS DOUBLE) + 1.0)))
                 ELSE 0.0 END AS idcg
               FROM pq JOIN cnt ON cnt.label = pq.qlab)
         SELECT query_id, n_rel, hits, mrr,
                CASE WHEN idcg > 0 THEN round(dcg / idcg, 6)
                     ELSE 0.0 END AS ndcg
         FROM m ORDER BY query_id""",
    // replays the full greedy trajectory: md5 seed pick, then per round
    // the incremental min-distance update (inner-product identity,
    // quantized at 6) and the (mind DESC, vec_id) argmax
    "llm_kcenter" ->
      ("""WITH u AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
              FROM embeddings),
         v AS MATERIALIZED (SELECT vec_id, vv,
                list_inner_product(vv, vv) AS sq FROM u),
         c1 AS MATERIALIZED (
           SELECT vec_id, vv, sq FROM (
             SELECT vec_id, vv, sq,
                    CAST(md5_number_lower('kc:' || CAST(vec_id AS VARCHAR))
                         & 9223372036854775807 AS BIGINT) AS h
             FROM v) ORDER BY h, vec_id LIMIT 1),
         d1 AS MATERIALIZED (
           SELECT p.vec_id, p.vv, p.sq,
                  round(p.sq + c.sq - 2 * list_inner_product(p.vv, c.vv), 6)
                    AS mind
           FROM v p, c1 c)""" +
        (2 to 6).map { r =>
          // mirror kCenterGreedy's guard: already-picked ids never
          // re-enter the argmax, and an exhausted round (every id picked)
          // emits NO row instead of re-picking the lowest mind=0 id
          val pickedSoFar = (1 until r)
            .map(p => s"SELECT vec_id FROM c$p").mkString(" UNION ALL ")
          s""",
         c$r AS MATERIALIZED (SELECT vec_id, vv, sq, mind FROM d${r - 1}
                 WHERE vec_id NOT IN ($pickedSoFar)
                 ORDER BY mind DESC, vec_id LIMIT 1),
         d$r AS MATERIALIZED (
           SELECT p.vec_id, p.vv, p.sq,
                  least(p.mind, round(p.sq + c.sq
                    - 2 * list_inner_product(p.vv, c.vv), 6)) AS mind
           FROM d${r - 1} p, c$r c)"""
        }.mkString +
        """
         SELECT * FROM (
           SELECT 1 AS round, vec_id, 0.0 AS dist FROM c1""" +
        (2 to 6).map { r =>
          s"""
           UNION ALL SELECT $r AS round, vec_id, mind AS dist FROM c$r"""
        }.mkString +
        """
         ) ORDER BY round"""),
    "llm_semdedup" ->
      """WITH u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
                    FROM embeddings),
         n AS (SELECT vec_id, CASE WHEN sqrt(list_inner_product(v0, v0)) > 0
                 THEN list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                 ELSE v0 END AS v FROM u),
         cent AS (SELECT row_number() OVER (ORDER BY h) - 1 AS cidx, v FROM (
           SELECT vec_id, v,
                  CAST(md5_number_lower('semdedup:' || vec_id)
                       & 9223372036854775807 AS BIGINT) AS h
           FROM n ORDER BY h LIMIT 8)),
         asg AS (SELECT vec_id, v, cidx AS cluster FROM (
           SELECT n.vec_id, n.v, c.cidx,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY round(list_inner_product(n.v, c.v), 6) DESC, c.cidx) AS rn
           FROM n CROSS JOIN cent c) WHERE rn = 1),
         ml AS (SELECT b.vec_id, max(round(list_inner_product(a.v, b.v), 6)) AS max_cos_lower
                FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                GROUP BY b.vec_id)
         SELECT asg.vec_id, CAST(asg.cluster AS INT) AS cluster, ml.max_cos_lower,
                coalesce(ml.max_cos_lower, -2.0) < 0.4 AS keep
         FROM asg LEFT JOIN ml USING (vec_id)""",
    "llm_audio_pcm" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         s AS (SELECT doc_id, list_transform(range(length(text) // 2),
                 j -> ascii(text[2*j+1]) + 256 * ascii(text[2*j+2])) AS sm FROM d),
         f AS (SELECT doc_id, sm, len(sm) AS n, list_sum(sm) AS stot FROM s)
         SELECT doc_id AS media_id, 'pcm16' AS kind,
                CAST(n AS INT) AS n_samples,
                CAST(list_max(sm) AS INT) AS peak_abs,
                CAST(list_sum(sm) AS BIGINT) AS sum_abs,
                CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS sum_sq,
                CAST(len(list_filter(range(n - 1),
                  j -> sign(n * sm[j + 1] - stot) * sign(n * sm[j + 2] - stot) < 0))
                  AS INT) AS dc_crossings,
                CAST(n // 64 AS INT) AS n_frames,
                CAST(list_max(list_transform(range(n // 64),
                  k -> list_sum(list_transform(sm[64*k+1:64*k+64], x -> x * x))))
                  AS BIGINT) AS max_frame_energy
         FROM f""",
    "llm_decontaminate_fuzzy" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         benchsrc AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              x -> length(x) > 0) AS toks
           FROM documents WHERE doc_id % 50 = 0),
         bench AS (
           SELECT doc_id + 1000000000000 AS doc_id,
                  array_to_string(
                    toks[1:greatest(1, CAST(ceil(0.8 * len(toks)) AS INT))],
                    ' ') AS text
           FROM benchsrc),
         allt AS (SELECT doc_id, text, false AS is_bench FROM corpus
                  UNION ALL SELECT doc_id, text, true FROM bench),
         d AS (SELECT doc_id, is_bench,
                      list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> length(x) > 0) AS toks
               FROM allt),
         s AS (SELECT doc_id, is_bench,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                      WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                      ELSE [] END AS sh
               FROM d),
         sn AS (SELECT doc_id, is_bench, sh FROM s WHERE len(sh) > 0),
         e AS (SELECT doc_id, unnest(sh) AS shingle FROM sn),
         h AS (SELECT e.doc_id, sd.seed,
                      CAST(md5_number_lower(sd.seed || ':' || e.shingle)
                           & 9223372036854775807 AS BIGINT) AS hv
               FROM e CROSS JOIN (SELECT unnest(range(32)) AS seed) sd),
         m AS (SELECT doc_id, seed, min(hv) AS minh FROM h GROUP BY doc_id, seed),
         bk AS (SELECT doc_id, seed // 4 AS band,
                       string_agg(minh, ',' ORDER BY seed) AS bucket
                FROM m GROUP BY doc_id, seed // 4),
         cand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
                  FROM bk c JOIN bk b
                    ON c.band = b.band AND c.bucket = b.bucket
                  WHERE c.doc_id < 1000000000000 AND b.doc_id >= 1000000000000),
         j AS (SELECT cand.doc_id, cand.bench_id,
                      round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                            len(list_distinct(x.sh || y.sh)), 6) AS jaccard
               FROM cand JOIN sn x ON x.doc_id = cand.doc_id
                         JOIN sn y ON y.doc_id = cand.bench_id)
         SELECT doc_id, bench_id, jaccard FROM j WHERE jaccard >= 0.5""",
    "llm_domain_cap" ->
      """SELECT doc_id, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10""",
    "llm_tfidf_topk" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                             t -> length(t) > 0)) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         s AS (SELECT tf.doc_id, tf.word,
                      tf.tf * (CAST(n.n_docs AS DOUBLE) / df.df) AS score
               FROM tf JOIN df USING (word) CROSS JOIN n),
         r AS (SELECT doc_id, word,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, word) AS rn
               FROM s)
         SELECT doc_id, string_agg(word, ',' ORDER BY rn) AS top_terms
         FROM r WHERE rn <= 3 GROUP BY doc_id""",
    "llm_unigram_logprob" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                             t -> length(t) > 0)) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         uni AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM uni),
         p AS (SELECT word, CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e9,
                 0) AS BIGINT) AS logpq
               FROM uni CROSS JOIN tot)
         SELECT tf.doc_id,
                round(CAST(sum(tf.tf * p.logpq) AS DOUBLE)
                  / CAST(sum(tf.tf) AS DOUBLE) / 1e9, 4) AS avg_logp,
                CAST(sum(tf.tf) AS BIGINT) AS n_tokens
         FROM tf JOIN p USING (word) GROUP BY 1""",
    "llm_mixture_sample" ->
      """WITH b AS (
           SELECT doc_id, source,
                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       t -> length(t) > 0)) AS INT) AS n_tokens
           FROM documents),
         ts AS (SELECT source, sum(n_tokens) AS t_s FROM b GROUP BY 1),
         p AS (SELECT source,
                      least(1.0, 30000.0 * (1.0 + CAST(substr(source, 4) AS INT) % 4)
                                 / 50.0 / t_s) AS pp
               FROM ts)
         SELECT b.doc_id, b.source, b.n_tokens, round(p.pp, 6) AS p_keep,
                (CAST(md5_number_lower('mix:' || b.doc_id)
                      & 9223372036854775807 AS BIGINT) % 1000000)
                  < CAST(floor(p.pp * 1000000) AS BIGINT) AS kept
         FROM b JOIN p USING (source)""",
    // rank on avg_logp DESC (monotone in ppl) — both engines rank the
    // identical rounded quantity; GlobalRank's tie rule IS SQL rank()
    "llm_ppl_buckets" ->
      """WITH w AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                             t -> length(t) > 0)) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         uni AS (SELECT word, sum(tf) AS cnt FROM tf GROUP BY 1),
         tot AS (SELECT sum(cnt) AS total FROM uni),
         p AS (SELECT word, CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1e9,
                 0) AS BIGINT) AS logpq
               FROM uni CROSS JOIN tot),
         lp AS (SELECT tf.doc_id,
                       round(CAST(sum(tf.tf * p.logpq) AS DOUBLE)
                         / CAST(sum(tf.tf) AS DOUBLE) / 1e9, 4) AS avg_logp,
                       CAST(sum(tf.tf) AS BIGINT) AS n_tokens
                FROM tf JOIN p USING (word) GROUP BY 1),
         rk AS (SELECT doc_id, avg_logp, n_tokens,
                       rank() OVER (ORDER BY -avg_logp ASC) AS r,
                       count(*) OVER () AS n
                FROM lp)
         SELECT doc_id, round(exp(-avg_logp), 4) AS ppl, n_tokens,
                CAST(least(2, CAST(floor((r - 1) * 3.0 / n) AS BIGINT)) AS INT)
                  AS bucket
         FROM rk""",
    "llm_bm25_topk" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              t -> length(t) > 0) AS toks
           FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                       CAST(sum(CASE WHEN list_contains(toks, 'spark')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN list_contains(toks, 'merge')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                       CAST(sum(CASE WHEN list_contains(toks, 'window')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df2
                FROM dd),
         sc AS (SELECT doc_id,
                  ln((n - df0 + 0.5) / (df0 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln((n - df1 + 0.5) / (df1 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln((n - df2 + 0.5) / (df2 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
                FROM dd CROSS JOIN st)
         SELECT doc_id, round(s, 6) AS bm25
         FROM sc ORDER BY round(s, 6) DESC, doc_id LIMIT 20""",
    "llm_bpe_merges" -> bpeMergesSql,
    "llm_bpe_encode" -> bpeEncodeSql,
    "llm_bpe_fertility" -> bpeFertilitySql,
    "llm_dataset_card" -> qualitySql(
      """, dd AS (SELECT source, count(DISTINCT md5(text)) AS d
           FROM b GROUP BY 1),
         ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nt) AS BIGINT) AS n_tokens,
                  CAST(sum(nc) AS BIGINT) AS n_chars,
                  round(CAST(sum(CAST(round(q * 1e6, 0) AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_quality,
                  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
                    AS pct_en,
                  round(avg(CAST(nt AS DOUBLE)), 6) AS mean_doc_tokens
                FROM f GROUP BY 1)
         SELECT ag.*, CAST(dd.d AS BIGINT) AS distinct_docs,
                round(1.0 - CAST(dd.d AS DOUBLE) / ag.n_docs, 6)
                  AS exact_dup_rate
         FROM ag JOIN dd USING (source)"""),
    "llm_triplets" ->
      """WITH u AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
           FROM embeddings),
         n AS (
           SELECT vec_id,
                  CASE WHEN sqrt(list_inner_product(v0, v0)) > 0 THEN
                    list_transform(v0, x -> x / sqrt(list_inner_product(v0, v0)))
                  ELSE v0 END AS v
           FROM u),
         q AS (SELECT vec_id AS anchor_id, v AS qv FROM n
               WHERE vec_id % 20 = 0),
         s AS (SELECT q.anchor_id, c.vec_id AS cand_id,
                      list_inner_product(c.v, q.qv) AS sim
               FROM n c, q WHERE c.vec_id <> q.anchor_id),
         -- rank-1 per anchor via lexicographic struct max (sim DESC,
         -- cand_id ASC == max (sim, -cand_id)): a bounded-state hash
         -- aggregate over the streamed cross product. The row_number()
         -- window form materialized + sorted all |n|x|q| pairs — at sf10
         -- (2e9 rows) that external sort spilled past the box (round-13
         -- sweep find); this replay is O(|q|) state instead
         p AS (SELECT anchor_id, max(struct_pack(s := sim, c := -cand_id)) AS w
               FROM s WHERE round(sim, 6) >= 0.3 GROUP BY 1),
         g AS (SELECT anchor_id, max(struct_pack(s := sim, c := -cand_id)) AS w
               FROM s WHERE sim < 0.2 GROUP BY 1)
         SELECT p.anchor_id, -(p.w).c AS pos_id, round((p.w).s, 6) AS pos_cos,
                -(g.w).c AS neg_id, round((g.w).s, 6) AS neg_cos
         FROM p JOIN g ON g.anchor_id = p.anchor_id""",
    // replays the FULL WordPiece pipeline: BPE training (shared unrolled
    // CTE prefix) for the learned pieces, vocab assembly (top-12 words +
    // merge tokens + top-word chars, initial and '##' forms), the
    // per-(word,pos) longest match table, and the greedy walk as a
    // recursive CTE (one step per emitted piece; a missing match
    // collapses the word to one [UNK])
    "llm_wordpiece" -> ("WITH RECURSIVE " +
      bpeRoundsSql(bpeM).stripPrefix("WITH ") + s""",
         topw AS (SELECT w AS piece FROM w0 WHERE NOT starts_with(w, '##')
                  ORDER BY cnt DESC, w LIMIT 12),
         mp AS (${(1 to bpeM).map(k =>
             s"SELECT l || r AS piece FROM b$k").mkString(" UNION ")}),
         ch AS (SELECT DISTINCT c AS piece FROM (
                  SELECT unnest(string_split(piece, '')) AS c FROM topw)
                WHERE regexp_matches(c, '^[A-Za-z]$$')),
         vocab AS (SELECT piece FROM topw UNION
                   SELECT piece FROM mp UNION
                   SELECT '##' || piece FROM mp UNION
                   SELECT piece FROM ch UNION
                   SELECT '##' || piece FROM ch),
         words AS (SELECT w FROM w0),""" + """
         poss AS (SELECT w, unnest(generate_series(1, length(w))) AS pos
                  FROM words),
         cand AS (SELECT w, pos,
                    unnest(generate_series(1, length(w) - pos + 1)) AS l
                  FROM poss),
         hit AS (SELECT c.w, c.pos, max(c.l) AS ml
                 FROM cand c JOIN vocab v
                   ON v.piece = CASE WHEN c.pos = 1
                                     THEN substr(c.w, c.pos, c.l)
                                     ELSE '##' || substr(c.w, c.pos, c.l) END
                 GROUP BY c.w, c.pos),
         seg AS (
           SELECT w, 1 AS pos, 0 AS n, FALSE AS unk FROM words
           UNION ALL
           SELECT s.w,
                  CASE WHEN h.ml IS NULL THEN length(s.w) + 1
                       ELSE s.pos + h.ml END,
                  CASE WHEN h.ml IS NULL THEN 1 ELSE s.n + 1 END,
                  h.ml IS NULL
           FROM seg s LEFT JOIN hit h ON h.w = s.w AND h.pos = s.pos
           WHERE s.pos <= length(s.w) AND NOT s.unk),
         wp AS (SELECT w, n, unk FROM seg WHERE pos > length(w)),
         dw AS (SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                     q -> length(q) > 0)) AS w
                FROM documents),
         res AS (SELECT dw.doc_id, sum(wp.n) AS nw,
                        sum(CASE WHEN wp.unk THEN 1 ELSE 0 END) AS nu
                 FROM dw JOIN wp USING (w) GROUP BY 1)
         SELECT d.doc_id, CAST(coalesce(r.nw, 0) AS INT) AS n_wp,
                CAST(coalesce(r.nu, 0) AS INT) AS n_unk
         FROM documents d LEFT JOIN res r USING (doc_id)"""),
    "llm_unigram_tok" -> unigramTokSql,
    "llm_unigram_em" -> unigramEmSql,
    "llm_unigram_em2" -> unigramEm2Sql,
    "llm_unigram_em_ll" -> unigramEmLlSql,
    // same quality CTEs as llm_quality; the running sum replays the
    // (quality desc, doc_id) window and the crossing-doc-kept rule
    "llm_token_budget" -> qualitySql(
      """, r AS (
           SELECT source, doc_id, round(q, 6) AS quality,
                  CAST(nt AS BIGINT) AS n_tokens,
                  row_number() OVER (PARTITION BY source
                    ORDER BY round(q, 6) DESC, doc_id) AS rank,
                  sum(CAST(nt AS BIGINT)) OVER (PARTITION BY source
                    ORDER BY round(q, 6) DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum_tokens
           FROM f)
         SELECT source, doc_id, quality, n_tokens,
                CAST(rank AS INT) AS rank,
                CAST(cum_tokens AS BIGINT) AS cum_tokens
         FROM r WHERE cum_tokens - n_tokens < 600"""),
    // recomputes the whole S-curve sweep: same grid, same term order
    // inside each factorization, argmin re-derived from unrounded sums
    "llm_lsh_band_plan" ->
      """WITH params AS (
           SELECT CAST(b AS INT) AS b, CAST(128 // b AS INT) AS r
           FROM (SELECT unnest(generate_series(1, 128)) AS b)
           WHERE 128 % b = 0),
         grid AS (SELECT b, r, (k + 0.5) / 1000.0 AS s
                  FROM params,
                       (SELECT unnest(generate_series(0, 999)) AS k)),
         m AS (SELECT b, r,
                 sum(CASE WHEN s < 0.7
                     THEN (1 - power(1 - power(s, r), b)) / 1000.0
                     ELSE 0 END) AS fp,
                 sum(CASE WHEN s >= 0.7
                     THEN power(1 - power(s, r), b) / 1000.0
                     ELSE 0 END) AS fn
               FROM grid GROUP BY 1, 2),
         best AS (SELECT b FROM m ORDER BY fp + fn, b LIMIT 1)
         SELECT m.b, m.r, round(m.fp, 6) AS fp_area,
                round(m.fn, 6) AS fn_area,
                round(m.fp + m.fn, 6) AS total_err,
                m.b = best.b AS chosen
         FROM m, best""",
    // exact side recomputed; within_bound is the Spark-side contract —
    // the oracle hard-codes TRUE, so a GK-sketch rank-bound violation
    // flips the bit and fails the compare
    "llm_len_quantiles" -> {
      val qs = Seq("0.01", "0.1", "0.25", "0.5", "0.75", "0.9", "0.99")
      """WITH t AS (
           SELECT CAST(len(list_filter(
                    regexp_split_to_array(trim(text), '\s+'),
                    q -> length(q) > 0)) AS DOUBLE) AS n_tok
           FROM documents)
         """ + qs.map(q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
               round(quantile_cont(n_tok, $q), 6) AS exact,
               TRUE AS within_bound FROM t""").mkString(" UNION ALL ")
    },
    // same distinct-gram sets per source; md5_number_lower & 2^63-1 is
    // the proven DuckDB twin of DedupOps.md5Lower63 (FunctionsSpec), so
    // counts agree digest-for-digest
    "llm_source_overlap" ->
      """WITH w AS (
           SELECT source, list_filter(
                    regexp_split_to_array(trim(lower(text)), '\s+'),
                    t -> length(t) > 0) AS ws
           FROM documents),
         g0 AS (SELECT source,
                  unnest(list_transform(
                    generate_series(1, greatest(len(ws) - 4, 0)),
                    i -> array_to_string(ws[i:i+4], ' '))) AS gram
                FROM w),
         g AS (SELECT DISTINCT source,
                 (md5_number_lower(gram) & 9223372036854775807) AS d
               FROM g0),
         sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         sh AS (SELECT a.source AS src_a, b.source AS src_b,
                       count(*) AS shared
                FROM g a JOIN g b ON a.d = b.d AND a.source < b.source
                GROUP BY 1, 2)
         SELECT pa.source AS src_a, pb.source AS src_b,
                pa.n AS grams_a, pb.n AS grams_b,
                CAST(coalesce(sh.shared, 0) AS BIGINT) AS shared_grams,
                round(CAST(coalesce(sh.shared, 0) AS DOUBLE) /
                      (pa.n + pb.n - coalesce(sh.shared, 0)), 6) AS jaccard
         FROM sz pa JOIN sz pb ON pa.source < pb.source
         LEFT JOIN sh ON sh.src_a = pa.source AND sh.src_b = pb.source""",
    "llm_zipf_slope" ->
      """WITH tk AS (
           SELECT source, lower(t.tok) AS term
           FROM documents, unnest(list_filter(
             regexp_split_to_array(trim(text), '\s+'),
             x -> length(x) > 0)) AS t(tok)),
         c AS (SELECT source, term, count(*) AS c FROM tk GROUP BY 1, 2),
         r AS (SELECT source, c, row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, term) AS rk
               FROM c),
         pt AS (SELECT source, ln(CAST(rk AS DOUBLE)) AS x,
                       ln(CAST(c AS DOUBLE)) AS y
                FROM r WHERE rk <= 100)
         SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
                round((count(*) * sum(x*y) - sum(x) * sum(y))
                      / (count(*) * sum(x*x) - sum(x) * sum(x)), 6)
                  AS zipf_slope
         FROM pt GROUP BY source""",
    "llm_ngram_diversity" ->
      """WITH d AS (
           SELECT source,
             list_transform(list_filter(
               regexp_split_to_array(trim(text), '\s+'), t -> length(t) > 0),
               t -> lower(t)) AS toks
           FROM documents),
         g AS (
           SELECT source, gg.g
           FROM d, unnest(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gg(g))
         SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams,
                CAST(count(DISTINCT
                  md5_number_lower(g) & 9223372036854775807) AS BIGINT)
                  AS n_distinct,
                round(CAST(count(DISTINCT
                  md5_number_lower(g) & 9223372036854775807) AS DOUBLE)
                  / count(*), 6) AS diversity
         FROM g GROUP BY source""",
    // replays the sketch itself: distinct md5 hashes, row_number bottom-k,
    // the same (k-1)·2^63/h_k double arithmetic, plus the exact count the
    // verdict column compares against
    "llm_kmv_distinct" ->
      """WITH w AS (
           SELECT DISTINCT source,
                  CAST(md5_number_lower(lower(word)) & 9223372036854775807
                       AS BIGINT) AS h
           FROM (SELECT source,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                          q -> length(q) > 0)) AS word
                 FROM documents)),
         s AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rk,
                 count(*) OVER (PARTITION BY source) AS cnt
               FROM w),
         kth AS (SELECT source,
                   max(CASE WHEN rk <= least(128, cnt) THEN h END) AS kth_hash,
                   max(cnt) AS distinct_exact
                 FROM s GROUP BY 1),
         est AS (SELECT source, CAST(distinct_exact AS BIGINT) AS distinct_exact,
                   kth_hash,
                   round(CASE WHEN distinct_exact >= 128
                     THEN (127.0 * 9.223372036854776e18) / CAST(kth_hash AS DOUBLE)
                     ELSE CAST(distinct_exact AS DOUBLE) END, 4) AS kmv_est
                 FROM kth)
         SELECT source, distinct_exact, kth_hash, kmv_est,
                abs(kmv_est - CAST(distinct_exact AS DOUBLE))
                  <= 0.25 * CAST(distinct_exact AS DOUBLE) AS ok
         FROM est""",
    // rebuilds the identical depth×width md5 counter grid from exact token
    // counts (sum is associative, so grid-from-counts == grid-from-stream),
    // re-answers each top-k point query as min-over-seeds, and recomputes
    // the one-sided guarantee verdict
    "llm_cms_heavy" ->
      """WITH tk AS (
           SELECT lower(t.tok) AS token
           FROM documents, unnest(list_filter(
             regexp_split_to_array(trim(text), '\s+'),
             x -> length(x) > 0)) AS t(tok)),
         c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY 1),
         sk AS (SELECT s.seed,
                  CAST(CAST(md5_number_lower(s.seed || ':' || c.token)
                       & 9223372036854775807 AS BIGINT) % 256 AS INT)
                    AS bucket,
                  sum(cnt) AS counter
                FROM c CROSS JOIN (SELECT unnest(range(4)) AS seed) s
                GROUP BY 1, 2),
         top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 20),
         est AS (SELECT top.token, top.cnt, min(sk.counter) AS cms_est
                 FROM top CROSS JOIN (SELECT unnest(range(4)) AS seed) s
                 JOIN sk ON sk.seed = s.seed AND sk.bucket =
                   CAST(CAST(md5_number_lower(s.seed || ':' || top.token)
                        & 9223372036854775807 AS BIGINT) % 256 AS INT)
                 GROUP BY 1, 2)
         SELECT token, CAST(cnt AS BIGINT) AS cnt,
                CAST(cms_est AS BIGINT) AS cms_est, cms_est >= cnt AS ok
         FROM est ORDER BY cnt DESC, token""",
    // replays u = (md5low63('ws:'||id) mod 2^48 + 0.5)/2^48, the ln(u)/w
    // exponential key rounded at 9, and the top-k-largest cutoff
    "llm_weighted_sample" ->
      """WITH w AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(trim(text),
                    '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents),
         s AS (SELECT doc_id, n_tokens,
                 round(ln((CAST(md5_number_lower('ws:' ||
                       CAST(doc_id AS VARCHAR)) & 9223372036854775807
                       AS BIGINT) % 281474976710656 + 0.5)
                     / 281474976710656.0)
                   / CAST(n_tokens AS DOUBLE), 9) AS key
               FROM w WHERE n_tokens > 0)
         SELECT doc_id, n_tokens, key
         FROM s ORDER BY key DESC, doc_id LIMIT 25""",
    "llm_shuffle_deterministic" ->
      """WITH s AS (SELECT doc_id,
                           md5('train1:' || CAST(doc_id AS VARCHAR)) AS skey
                    FROM documents)
         SELECT doc_id, skey,
                CAST(row_number() OVER (ORDER BY skey) - 1 AS BIGINT) AS pos,
                CAST((row_number() OVER (ORDER BY skey) - 1) % 8 AS BIGINT)
                  AS shard
         FROM s""",
    "llm_hybrid_rrf" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              t -> length(t) > 0) AS toks
           FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                       CAST(sum(CASE WHEN list_contains(toks, 'spark')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN list_contains(toks, 'merge')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                       CAST(sum(CASE WHEN list_contains(toks, 'window')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df2
                FROM dd),
         sc AS (SELECT doc_id,
                  ln((n - df0 + 0.5) / (df0 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln((n - df1 + 0.5) / (df1 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln((n - df2 + 0.5) / (df2 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
                FROM dd CROSS JOIN st),
         b AS (SELECT doc_id,
                      row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS r
               FROM sc ORDER BY round(s, 6) DESC, doc_id LIMIT 50),
         q AS (SELECT list_transform(range(0, 64),
                        i -> ((i % 7) - 3) * 0.1) AS qv),
         c AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
         s2 AS (SELECT vec_id,
                       round(list_inner_product(v, qv)
                         / (sqrt(list_inner_product(v, v))
                            * sqrt(list_inner_product(qv, qv))), 6) AS sim
                FROM c, q),
         v2 AS (SELECT vec_id AS doc_id,
                       row_number() OVER (ORDER BY sim DESC, vec_id) AS r
                FROM s2 ORDER BY sim DESC, vec_id LIMIT 50),
         u AS (SELECT doc_id, CAST(round(1.0 / (60 + r) * 1e9, 0) AS BIGINT)
                        AS pq
               FROM b
               UNION ALL
               SELECT doc_id, CAST(round(1.0 / (60 + r) * 1e9, 0) AS BIGINT)
               FROM v2)
         SELECT doc_id, round(CAST(sum(pq) AS DOUBLE) / 1e9, 6) AS rrf
         FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id LIMIT 15""",
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, value, ts, epoch_us(ts) // 1000000 AS sec,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         f AS (SELECT *, CASE WHEN prev IS NULL
                              OR sec - (epoch_us(prev) // 1000000) > 1800
                              THEN 1 ELSE 0 END AS nf
               FROM e),
         s AS (SELECT *, sum(nf) OVER (PARTITION BY user_id ORDER BY ts)
                           AS session_seq
               FROM f)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                CAST(min(sec) AS BIGINT) AS start_s,
                CAST(max(sec) AS BIGINT) AS end_s,
                count(*) AS n_events, round(sum(value), 4) AS sum_value
         FROM s GROUP BY 1, 2""",
    "q_asof" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec,
                           value
                    FROM events),
         tr AS (SELECT event_id, user_id, sec FROM e WHERE event_id % 2 = 0),
         q AS (SELECT user_id, sec, max_by(value, event_id) AS qvalue
               FROM e WHERE event_id % 2 = 1 GROUP BY 1, 2)
         SELECT tr.event_id, tr.user_id, tr.sec, q.qvalue AS asof_qvalue
         FROM tr ASOF LEFT JOIN q
           ON tr.user_id = q.user_id AND tr.sec >= q.sec""",
    "q_event_windows" ->
      """SELECT epoch_us(date_trunc('hour', ts)) // 1000000 AS window_start,
                event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_expr_bits" ->
      """SELECT event_id,
                event_id & 255 AS band,
                event_id | 16 AS bor,
                xor(event_id, 129) AS bxor,
                xor(event_id, -1) AS bnot,
                CAST(strlen(event_type) AS INT) AS blen,
                CAST((epoch_us(ts) % 1000000) // 1000 AS INT) AS ms,
                CAST(week(ts) AS INT) AS iw,
                CAST(isodow(ts) AS INT) AS idw,
                CAST(isoyear(ts) AS INT) AS iwy
         FROM events""",
    "q_dynamic_window" ->
      """WITH e AS (SELECT event_id AS _id, event_type AS et, value AS v
                    FROM events)
         SELECT _id,
                CAST(row_number() OVER w AS BIGINT) AS rn,
                round(sum(v) OVER (PARTITION BY et ORDER BY _id
                                   ROWS UNBOUNDED PRECEDING), 2) AS run,
                coalesce(lag(v, 1) OVER w, 0) AS prev
         FROM e WINDOW w AS (PARTITION BY et ORDER BY _id)""",
    "q_vector_search" ->
      """WITH q AS (SELECT list_transform(range(0, 64),
                             i -> ((i % 7) - 3) * 0.1) AS qv),
         c AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings WHERE label <= 3),
         s AS (SELECT vec_id,
                      list_inner_product(v, qv)
                        / (sqrt(list_inner_product(v, v))
                           * sqrt(list_inner_product(qv, qv))) AS sc
               FROM c, q)
         SELECT vec_id % 10000000 AS vec_id, round(sc, 6) AS score
         FROM s ORDER BY sc DESC LIMIT 10""",
    "q_geonear" ->
      """WITH c AS (SELECT c_custkey,
                CAST(c_custkey % 360 - 180 + 0.25 AS DOUBLE) AS x,
                CAST((c_custkey * 7) % 120 - 60 + 0.5 AS DOUBLE) AS y
              FROM customer WHERE c_mktsegment = 'BUILDING'),
         d AS (SELECT c_custkey,
                2 * asin(sqrt(pow(sin(radians(y - 41.9) / 2), 2) +
                  cos(radians(41.9)) * cos(radians(y)) *
                  pow(sin(radians(x - 12.5) / 2), 2))) * 6378100.0 AS raw
              FROM c)
         SELECT c_custkey, round(raw * 0.001, 2) + 0 AS dist_km
         FROM d WHERE raw >= 100000 AND raw <= 8000000""",
    "q_dynamic_geonear" ->
      """WITH c AS (SELECT c_custkey,
                CAST(c_custkey % 360 - 180 + 0.25 AS DOUBLE) AS x,
                CAST((c_custkey * 7) % 120 - 60 + 0.5 AS DOUBLE) AS y
              FROM customer WHERE c_mktsegment = 'BUILDING'),
         d AS (SELECT c_custkey,
                2 * asin(sqrt(pow(sin(radians(y - 41.9) / 2), 2) +
                  cos(radians(41.9)) * cos(radians(y)) *
                  pow(sin(radians(x - 12.5) / 2), 2))) * 6378100.0 AS raw
              FROM c)
         SELECT c_custkey, round(raw * 0.001, 2) + 0 AS dist_km
         FROM d WHERE raw >= 100000 AND raw <= 8000000""",
    "q_dynamic_window_calc" ->
      s"""WITH RECURSIVE
         e AS (SELECT event_id, event_type,
                      CASE WHEN user_id % 10 = 0 THEN NULL ELSE value END AS v,
                      CAST(event_id AS DOUBLE) AS x
               FROM events),
         s AS (SELECT event_id, event_type, v, x,
                      lag(v) OVER w AS pv0, lag(x) OVER w AS px0,
                      last_value(v IGNORE NULLS) OVER wb AS pv,
                      last_value(CASE WHEN v IS NOT NULL THEN x END
                                 IGNORE NULLS) OVER wb AS px,
                      first_value(v IGNORE NULLS) OVER wf AS nv,
                      first_value(CASE WHEN v IS NOT NULL THEN x END
                                  IGNORE NULLS) OVER wf AS nx,
                      count(v) OVER wb AS ii
               FROM e
               WINDOW w AS (PARTITION BY event_type ORDER BY event_id),
                      wb AS (PARTITION BY event_type ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING),
                      wf AS (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         ${emaBlocks(256)}
         SELECT s.event_id AS _id,
                (s.v - s.pv0) / (s.x - s.px0) AS slope,
                coalesce(s.v, s.pv + (s.nv - s.pv)
                               * (s.x - s.px) / (s.nx - s.px)) AS fill,
                em.ema AS ema
         FROM s LEFT JOIN em ON em.event_type = s.event_type AND em.i = s.ii""",
    // the cumulative `running` sum replays through foldBlocks like
    // q_window_calc's area: native window sums are segment-tree-ordered in
    // DuckDB and diverge from Spark's sequential accumulator in the last
    // rounded digit once partitions reach ~10⁵ rows. This oracle happened
    // to pass at sf1 only because its magnitudes round safely — the replay
    // removes the luck. `value` is non-null, so row_number doubles as the
    // fold index (no separate count(ar) needed).
    "q_window_fields" ->
      s"""WITH RECURSIVE
         a AS (SELECT event_id, event_type, ts, value,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id) AS ii
               FROM events),
         ${foldBlocks("(acc, y) -> acc + y", 256, "a", "value", "ts, event_id")}
         SELECT a.event_id,
                round(em.ema, 2) AS running,
                CAST(a.ii AS INT) AS rnk,
                coalesce(lag(a.value, 1) OVER w_ord, 0) AS prev,
                round(avg(a.value) OVER w_avg, 4) AS avg3
         FROM a JOIN em ON em.event_type = a.event_type AND em.i = a.ii
         WINDOW
           w_ord AS (PARTITION BY a.event_type ORDER BY a.ts, a.event_id),
           w_avg AS (PARTITION BY a.event_type ORDER BY a.ts, a.event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    // slots (cumulative $addToSet of user_id % 4, sorted-concat) replays
    // LINEARLY via one seen-flag per domain value — the mod-4 domain is
    // {0,1,2,3}, so four cumulative max flags replace the O(n²) per-row
    // running list (round 12; was OOM-bound at the sf1 replica)
    "q_window_stats" ->
      """SELECT event_id,
                round(stddev_pop(value) OVER w6, 4) AS sdp,
                round(stddev_samp(value) OVER w6, 4) AS sds,
                round(covar_pop(value, CAST(user_id AS DOUBLE)) OVER wp, 2) AS cvp,
                round(covar_samp(value, CAST(user_id AS DOUBLE)) OVER wp, 2) AS cvs,
                ',' || concat_ws(',',
                  CASE WHEN max(CASE WHEN user_id % 4 = 0 THEN 1 END) OVER wcum = 1 THEN '0' END,
                  CASE WHEN max(CASE WHEN user_id % 4 = 1 THEN 1 END) OVER wcum = 1 THEN '1' END,
                  CASE WHEN max(CASE WHEN user_id % 4 = 2 THEN 1 END) OVER wcum = 1 THEN '2' END,
                  CASE WHEN max(CASE WHEN user_id % 4 = 3 THEN 1 END) OVER wcum = 1 THEN '3' END) AS slots
         FROM events
         WINDOW
           w6 AS (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
           wp AS (PARTITION BY event_type),
           wcum AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING)""",
    // the cumulative area replays through foldBlocks, NOT sum() OVER:
    // DuckDB's segment-tree window sum and Spark's sequential running
    // accumulator disagree in the last rounded digit at ~10⁵-row
    // partitions (20/1M rows at the sf1 replica, round-12 find)
    "q_window_calc" ->
      s"""WITH RECURSIVE
         e AS (SELECT event_id, event_type, ts, value,
                      epoch_ms(ts) / 1000.0 AS x
               FROM events),
         a AS (SELECT event_id, event_type, ts, value, x,
                      (x - lag(x) OVER wo) * (value + lag(value) OVER wo) / 2
                        AS ar
               FROM e
               WINDOW wo AS (PARTITION BY event_type ORDER BY ts)),
         s AS (SELECT event_id, event_type, ts, value, x,
                      count(ar) OVER (PARTITION BY event_type ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS ii
               FROM a),
         ${foldBlocks("(acc, y) -> acc + y", 256, "a", "ar", "ts")}
         SELECT s.event_id,
                round((last_value(s.value) OVER w - first_value(s.value) OVER w)
                      / nullif(last_value(s.x) OVER w - first_value(s.x) OVER w,
                               0), 4) + 0 AS slope,
                round(coalesce(em.ema, 0), 2) + 0 AS area
         FROM s LEFT JOIN em ON em.event_type = s.event_type AND em.i = s.ii
         WINDOW
           w AS (PARTITION BY s.event_type ORDER BY s.ts
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""",
    "q_window_nfamily" -> nfamilySql,
    "q_dynamic_window_nfamily" -> nfamilySql,
    "q_window_range" ->
      """SELECT event_id,
                round(sum(value) OVER wr, 2) AS near_sum,
                count(*) OVER wr AS near_n
         FROM events
         WINDOW wr AS (PARTITION BY event_type ORDER BY value
                       RANGE BETWEEN 50 PRECEDING AND CURRENT ROW)""",
    "q_window_fill" ->
      s"""WITH RECURSIVE
         e AS (SELECT event_id, event_type,
                      CASE WHEN user_id % 10 = 0 THEN NULL ELSE value END AS v
               FROM events),
         s AS (SELECT event_id, event_type, v,
                      last_value(v IGNORE NULLS) OVER wb AS pv,
                      last_value(CASE WHEN v IS NOT NULL
                                 THEN CAST(event_id AS DOUBLE) END IGNORE NULLS)
                        OVER wb AS px,
                      first_value(v IGNORE NULLS) OVER wf AS nv,
                      first_value(CASE WHEN v IS NOT NULL
                                  THEN CAST(event_id AS DOUBLE) END IGNORE NULLS)
                        OVER wf AS nx,
                      count(v) OVER wb AS ii
               FROM e
               WINDOW wb AS (PARTITION BY event_type ORDER BY event_id
                             ROWS UNBOUNDED PRECEDING),
                      wf AS (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         ${emaBlocks(256)}
         SELECT s.event_id,
                coalesce(s.v, s.pv + (s.nv - s.pv)
                      * (CAST(s.event_id AS DOUBLE) - s.px) / (s.nx - s.px)) AS filled,
                s.pv AS last_seen,
                em.ema AS ema
         FROM s LEFT JOIN em ON em.event_type = s.event_type AND em.i = s.ii""",
    "q_sort_limit" ->
      """SELECT event_id, value FROM events
         ORDER BY value DESC, event_id LIMIT 100""",
    "q_sortbycount" ->
      """SELECT event_type AS _id, count(*) AS count
         FROM events GROUP BY 1""",
    "q_graph_lookup" ->
      """WITH RECURSIVE g AS (
           SELECT o.o_orderkey, c.c_custkey AS ck, c.c_nationkey AS nk,
                  0 AS d
           FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
           UNION ALL
           SELECT g.o_orderkey, c.c_custkey, c.c_nationkey, g.d + 1
           FROM g JOIN customer c ON c.c_custkey = g.nk
           WHERE g.d < 3)
         SELECT o_orderkey, ck, CAST(min(d) AS BIGINT) AS d
         FROM g GROUP BY 1, 2""",
    "q_bucket_auto" ->
      """WITH r AS (SELECT l_extendedprice AS v, l_quantity AS q,
                           rank() OVER (ORDER BY l_extendedprice) AS rk,
                           count(*) OVER () AS n
                    FROM lineitem),
         g AS (SELECT ((rk - 1) * 8) // n AS bk, min(v) AS mn, max(v) AS mx,
                      count(*) AS n, round(sum(q), 2) AS qty
               FROM r GROUP BY 1)
         SELECT mn AS lo, coalesce(lead(mn) OVER (ORDER BY bk), mx) AS hi,
                n, qty
         FROM g""",
    "q_unionwith" ->
      """SELECT event_id FROM events
         UNION ALL SELECT n_nationkey FROM nation""",
    "q_search" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              t -> length(t) > 0) AS toks
           FROM documents),
         dd AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                       CAST(sum(CASE WHEN list_contains(toks, 'spark')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN list_contains(toks, 'merge')
                                     THEN 1 ELSE 0 END) AS DOUBLE) AS df1
                FROM dd),
         sc AS (SELECT doc_id,
                  ln((n - df0 + 0.5) / (df0 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln((n - df1 + 0.5) / (df1 + 0.5) + 1)
                    * CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE) * 2.2
                    / (CAST(len(list_filter(toks, x -> x = 'merge')) AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
                FROM dd CROSS JOIN st)
         SELECT doc_id, round(s, 6) AS sc FROM sc WHERE s > 0""",
    "q_rank_fusion" ->
      """WITH p AS (SELECT o_orderkey AS _id,
                           row_number() OVER (ORDER BY o_totalprice DESC,
                                              o_orderkey) AS r
                    FROM orders WHERE o_orderstatus = 'F'
                    QUALIFY r <= 40),
         d AS (SELECT o_orderkey AS _id,
                      row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS r
               FROM orders QUALIFY r <= 40),
         u AS (SELECT _id, 2.0 / (60 + r) AS s FROM p
               UNION ALL SELECT _id, 1.0 / (60 + r) FROM d)
         SELECT _id, round(sum(s), 6) AS score FROM u GROUP BY 1""",
    "q_score_fusion" ->
      """WITH p1 AS (SELECT o_orderkey AS _id, o_totalprice AS s
                     FROM orders WHERE o_orderstatus = 'F'),
         n1 AS (SELECT _id, 2.0 * CASE WHEN mx = mn THEN 1.0
                                       ELSE (s - mn) / (mx - mn) END AS ws
                FROM p1, (SELECT min(s) AS mn, max(s) AS mx FROM p1)),
         p2 AS (SELECT o_orderkey AS _id,
                       CAST(strlen(o_orderpriority) AS DOUBLE) AS s
                FROM orders),
         n2 AS (SELECT _id, 1.0 * CASE WHEN mx = mn THEN 1.0
                                       ELSE (s - mn) / (mx - mn) END AS ws
                FROM p2, (SELECT min(s) AS mn, max(s) AS mx FROM p2)),
         u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
         SELECT _id, round(sum(ws) / 2, 6) + 0 AS score FROM u GROUP BY 1""",
    "q_dynamic_scorefusion" ->
      """WITH p1 AS (SELECT o_orderkey AS _id, o_totalprice AS s
                     FROM orders WHERE o_orderstatus = 'F'),
         n1 AS (SELECT _id, 2.0 * CASE WHEN mx = mn THEN 1.0
                                       ELSE (s - mn) / (mx - mn) END AS ws
                FROM p1, (SELECT min(s) AS mn, max(s) AS mx FROM p1)),
         p2 AS (SELECT o_orderkey AS _id,
                       CAST(strlen(o_orderpriority) AS DOUBLE) AS s
                FROM orders),
         n2 AS (SELECT _id, 1.0 * CASE WHEN mx = mn THEN 1.0
                                       ELSE (s - mn) / (mx - mn) END AS ws
                FROM p2, (SELECT min(s) AS mn, max(s) AS mx FROM p2)),
         u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
         SELECT _id, round(sum(ws) / 2, 6) + 0 AS score FROM u GROUP BY 1""",
    "q_documents" ->
      """SELECT k, name, k * 10 AS kk FROM (
           SELECT n_nationkey AS k, n_name AS name FROM nation
           UNION ALL
           SELECT * FROM (VALUES (CAST(100 AS BIGINT), 'alpha'),
                                 (CAST(101 AS BIGINT), 'beta')) v(k, name))""",
    "q_densify" ->
      """WITH e AS (SELECT event_id, event_type, user_id % 50 AS slot
                    FROM events),
         parts AS (SELECT DISTINCT event_type FROM e),
         gen AS (SELECT event_type, unnest(generate_series(0, 49)) AS slot
                 FROM parts),
         miss AS (SELECT g.event_type, g.slot FROM gen g
                  ANTI JOIN (SELECT DISTINCT event_type, slot FROM e) x
                  ON g.event_type = x.event_type AND g.slot = x.slot)
         SELECT event_id, event_type, slot FROM e
         UNION ALL
         SELECT NULL, event_type, slot FROM miss""",
    "q_dynamic_fill" ->
      """WITH e AS (SELECT event_id, event_type, ts,
                           CASE WHEN event_id % 3 = 0 THEN NULL
                                ELSE value END AS v
                    FROM events)
         SELECT event_id,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS v
         FROM e""",
    "q_dynamic_densify" ->
      """WITH e AS (SELECT event_id, event_type, user_id % 50 AS slot
                    FROM events),
         parts AS (SELECT DISTINCT event_type FROM e),
         gen AS (SELECT event_type, unnest(generate_series(0, 49)) AS slot
                 FROM parts),
         miss AS (SELECT g.event_type, g.slot FROM gen g
                  ANTI JOIN (SELECT DISTINCT event_type, slot FROM e) x
                  ON g.event_type = x.event_type AND g.slot = x.slot)
         SELECT event_id, event_type, slot FROM e
         UNION ALL
         SELECT NULL, event_type, slot FROM miss""",
    "q_densify_date" ->
      """WITH src AS (SELECT o_orderdate AS d FROM orders
                      WHERE o_totalprice > 450000),
         b AS (SELECT CAST(min(d) AS TIMESTAMP) AS lo,
                      CAST(max(d) AS TIMESTAMP) AS hi FROM src),
         gen AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                             AS DATE) AS d FROM b),
         miss AS (SELECT g.d FROM gen g
                  ANTI JOIN (SELECT DISTINCT d FROM src) x ON g.d = x.d)
         SELECT d FROM src UNION ALL SELECT d FROM miss""",
    "q_fill" ->
      """WITH e AS (SELECT event_id, event_type, ts,
                           CASE WHEN event_id % 3 = 0 THEN NULL
                                ELSE value END AS v
                    FROM events)
         SELECT event_id,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS v
         FROM e""",
    "q_group_top" ->
      """WITH r AS (SELECT event_type, value,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY ts DESC, event_id DESC) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS cnt
                    FROM events)
         SELECT event_type AS _id,
                max(CASE WHEN rn = 1 THEN value END) AS latest,
                max(CASE WHEN rn = cnt THEN value END) AS earliest
         FROM r GROUP BY 1""",
    "q_group_median" ->
      """SELECT event_type AS _id,
                round(median(value), 5) AS med,
                round(stddev_samp(value), 5) AS sd
         FROM events GROUP BY 1""",
    "q_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.5), 5) AS p50,
                round(quantile_cont(value, 0.9), 5) AS p90,
                round(quantile_cont(value, 0.99), 5) AS p99
         FROM events GROUP BY 1""",
  )

  /** Oracles checked ONLY by the local gate (tools/check_oracle.py), never
    * dumped into the driver's oracle_sql.json: the driver compare CRASHES
    * on NESTED (struct/array) output columns (pandas sort over unhashable
    * ndarray cells — CORRECTNESS_r12), so nested-schema fixtures live in
    * [[localQueries]] (dumped to the `<outDir>.local/` sibling) with their strict SQL here.
    * Verify dumps these (wrapped) to local_oracle_sql.json. */
  def localOracleSql: Map[String, String] = Map(
    "q_negzero_nested" ->
      """SELECT l_returnflag AS flag,
                struct_pack(tiny := round(sum(l_quantity) * -1e-18, 6),
                            cnt := round(CAST(count(*) AS DOUBLE), 6)) AS stats,
                [struct_pack(t := round(max(l_tax) * -1e-15, 6))] AS arr
         FROM lineitem GROUP BY 1""",
  )
}
