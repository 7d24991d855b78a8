package graft

import graft.streaming.{BatchGuard, StreamingPipeline}
import graft.sources.InMemoryStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Streaming semantics: update-mode `$group` (per-changed-key emission per
  * micro-batch — the SURVEY §2.4 approximation of the reference's continuous
  * emission), state-store `$deduplicate`, and sink stages via foreachBatch. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def collectBatches(): (scala.collection.mutable.Buffer[Array[(String, Long)]],
      DataFrame => Unit) = {
    val buf = scala.collection.mutable.Buffer.empty[Array[(String, Long)]]
    (buf, df => buf += df.collect().map(r =>
      (Option(r.get(0)).map(_.toString).orNull, r.getLong(1))))
  }

  test("streaming $group emits updated aggregates per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val stream = input.toDF().toDF("g", "v")
    val (batches, sink) = collectBatches()
    val sp = new StreamingPipeline(pipeline)
    input.addData(("a", 1L), ("b", 2L))
    val q = sp.start(stream,
      """[{"$group": {"_id": "$g", "s": {"$sum": "$v"}}}]""", sink,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData(("a", 10L))
      q.processAllAvailable()
    } finally q.stop()
    val all = batches.filter(_.nonEmpty)
    // batch 1: both keys; batch 2: only the changed key "a" with running sum
    assert(all.head.toSet == Set(("a", 1L), ("b", 2L)))
    assert(all.last.toSet == Set(("a", 11L)))
  }

  test("batch-only stages split to foreachBatch: per-micro-batch window semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val got = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
    input.addData(("a", 1L), ("a", 2L), ("b", 5L))
    val q = sp.start(input.toDF().toDF("g", "v"),
      """[{"$setWindowFields": {"partitionBy": "$g", "sortBy": {"v": 1},
            "output": {"run": {"$sum": "$v",
              "window": {"documents": ["unbounded", "current"]}}}}}]""",
      df => got ++= df.collect().map(r => (r.getAs[String]("g"),
        r.getAs[Long]("v"), r.getAs[Long]("run"))),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData(("a", 10L)) // new batch: windows restart per batch
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == Set(("a", 1L, 1L), ("a", 2L, 3L), ("b", 5L, 5L),
      ("a", 10L, 10L)))
  }

  test("streaming run() rejects batch-only stages with a pointer to start()") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val e = intercept[IllegalArgumentException] {
      sp.run(input.toDF().toDF("g", "v"), """[{"$sort": {"v": 1}}]""")
    }
    assert(e.getMessage.contains("use start()"))
  }

  test("$scoreFusion is batch-only on a stream: it runs per micro-batch before $send") {
    // its fused scores end in a global orderBy, like $rankFusion, which an
    // unbounded frame cannot plan
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sent = scala.collection.mutable.Buffer.empty[(String, Double)]
    val sp = new StreamingPipeline(new Pipeline(producer = df =>
      sent ++= df.collect().map(r => (r.getAs[String]("_id"), r.getAs[Double]("__score")))))
    input.addData(("a", 1L), ("b", 5L))
    val q = sp.start(input.toDF().toDF("_id", "v"),
      """[{"$scoreFusion": {"input": {"pipelines": {
            "p": [{"$score": {"score": "$v"}}]}}}},
          {"$send": {"topic": "out"}}]""", _ => (),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData(("c", 3L))
      q.processAllAvailable()
    } finally q.stop()
    assert(sent.toList == List(("b", 5d), ("a", 1d), ("c", 3d)))
  }

  test("streaming sessionization: native session_window closes sessions at the watermark") {
    // the streaming counterpart of operators.Sessionize — Spark's built-in
    // gap-based session_window + watermark emits each session once, when the
    // watermark passes its close (append mode = finalized sessions only)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val out = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .select(col("user_id"), col("n"), col("s"))
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData((7L, ts(0), 1.0), (7L, ts(10), 2.0)) // one session
      q.processAllAvailable()
      input.addData((7L, ts(120), 4.0)) // 110-min gap: watermark closes it
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((7L, 2L, 3.0)))
  }

  test("dynamic (schemaless) pipeline runs natively on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val stream = input.toDF().toDF("doc")
    // fused doc stages are one mapPartitions — incremental-plan friendly;
    // full-language $jslt (recursion) included
    val out = graft.dynamic.DynPipeline.run(stream,
      """[{"$addFields": {"b.c": {"$add": ["$a", 1]}}},
          {"$jslt": "def twice(x) $x * 2 {\"_id\": ._id, \"t\": twice(.b.c)}"},
          {"$match": {"t": {"$gte": 4}}}]""")
    val q = out.writeStream.format("memory").queryName("dynstream")
      .outputMode("append").start()
    try {
      input.addData("""{"_id":"0","a":1}""", """{"_id":"1","a":5}""")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select doc from dynstream").collect()
      .map(r => graft.dynamic.DynJson.parse(r.getString(0))).toSet
    assert(got == Set(
      graft.dynamic.DynJson.parse("""{"_id":"0","t":4}"""),
      graft.dynamic.DynJson.parse("""{"_id":"1","t":12}""")))
  }

  test("dynamic streaming split: batch-only suffix runs per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sp = new graft.streaming.DynStreamingPipeline()
    val got = scala.collection.mutable.Buffer.empty[String]
    input.addData("""{"_id":"0","v":1}""", """{"_id":"1","v":5}""")
    // $addFields runs natively on the stream; $sort/$limit cut to
    // foreachBatch -> per-batch top-1
    val q = sp.start(input.toDF().toDF("doc"),
      """[{"$addFields": {"w": {"$multiply": ["$v", 2]}}},
          {"$sort": {"w": -1}}, {"$limit": 1}]""",
      df => got ++= df.select("doc").collect().map(r =>
        graft.dynamic.DynJson.parse(r.getString(0)).path("_id").textValue),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData("""{"_id":"2","v":3}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toList == List("1", "2"))
    val e = intercept[IllegalArgumentException] {
      sp.run(input.toDF().toDF("doc"), """[{"$sort": {"v": 1}}]""")
    }
    assert(e.getMessage.contains("use start()"))
  }

  test("streaming $delay parks via foreachBatch; redelivery passes pop due messages once") {
    implicit val sqlCtx = spark.sqlContext
    val st = new InMemoryStore(spark)
    val input = MemoryStream[(String, Long, String)]
    val stream = input.toDF().toDF("_id", "d", "at")
    val sp = new StreamingPipeline(new Pipeline(store = st, producer = _ => ()))
    input.addData(("a", 60000L, "2024-01-01 00:00:00"),
                  ("b", 7200000L, "2024-01-01 00:00:00"))
    val q = sp.start(stream,
      """[{"$delay": {"duration": "$d", "topic": "later",
                      "_clock": {"$toDate": "$at"}}}]""", _ => (),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      input.addData(("c", 60000L, "2024-01-01 03:00:00"))
      q.processAllAvailable()
    } finally q.stop()
    // the redelivery driver (production: a scheduled foreachBatch job)
    def due(at: String) = SinkStages.redeliverDue(st, "later",
      lit(at).cast("timestamp")).select("_id").collect().map(_.getString(0)).toSet
    assert(due("2024-01-01 01:00:00") == Set("a"))        // a due, b/c later
    assert(due("2024-01-01 04:00:00") == Set("b", "c"))   // popped once each
    assert(due("2024-01-01 09:00:00") == Set.empty)
  }

  test("dynamic $group on a stream emits updated cross-type aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val out = graft.dynamic.DynPipeline.run(input.toDF().toDF("doc"),
      """[{"$group": {"_id": "$g", "s": {"$sum": "$v"}}}]""")
    val q = out.writeStream.format("memory").queryName("dyngroup")
      .outputMode("update").start()
    try {
      input.addData("""{"g":"a","v":1}""", """{"g":"b","v":2}""")
      q.processAllAvailable()
      input.addData("""{"g":"a","v":10}""")
      q.processAllAvailable()
    } finally q.stop()
    // update mode: last emission per key has the running aggregate
    val byKey = spark.sql("select doc from dyngroup").collect()
      .map(r => graft.dynamic.DynJson.parse(r.getString(0)))
      .groupBy(_.path("_id").textValue).view
      .mapValues(_.map(_.path("s").longValue).max).toMap
    assert(byKey == Map("a" -> 11L, "b" -> 2L))
  }

  test("streaming $lookup against a static catalog is a stream-static join") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "label")
    val sp = new StreamingPipeline(new Pipeline(catalog = _ => dim))
    val out = sp.run(input.toDF().toDF("g", "v"),
      """[{"$lookup": {"from": "dim", "localField": "v",
                       "foreignField": "k", "as": "d", "unwind": true}},
          {"$project": {"g": 1, "label": "$d.label"}}]""")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("t_lookup")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L), ("b", 2L), ("c", 9L)) // 9 has no match -> dropped (unwind=inner)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_lookup").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "one"), ("b", "two")))
  }

  test("streaming $jslt/$jq run natively (columnar compile, no sink split)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val out = sp.run(input.toDF().toDF("g", "v"),
      """[{"$jslt": "{\"g\": .g, \"v10\": .v * 10}"},
          {"$jq": "select(.v10 > 10) | {g, v10}"}]""")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("t_script")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L), ("b", 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_script").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 20L)))
  }

  test("streaming $match + $addFields prefix runs natively") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val out = sp.run(input.toDF().toDF("g", "v"),
      """[{"$match": {"v": {"$gte": 2}}},
          {"$addFields": {"vv": {"$multiply": ["$v", 10]}}}]""")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("t_native")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L), ("b", 2L), ("c", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_native").select("g", "vv").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 20L), ("c", 30L)))
  }

  test("streaming $deduplicate keeps first arrival across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val out = sp.run(input.toDF().toDF("id", "v"),
      """[{"$deduplicate": {"expression": "$v"}}]""")
    val q = out.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L), ("b", 1L))
      q.processAllAvailable()
      input.addData(("c", 1L), ("d", 2L)) // v=1 already seen in batch 1
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("t_dedup").select("v").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("continuous $group emits per input message (TestGroup 4-in-4-out)") {
    // batch frame, but exact per-message semantics via flatMapGroupsWithState
    val df = Seq(("0", 0L), ("1", 1L), ("2", 2L), ("3", 3L)).toDF("_id", "test")
      .coalesce(1)
    val out = pipeline.run(df,
      """[{"$group": {"_id": null, "_continuous": true,
                      "value": {"$sum": "$test"}}}]""")
    // reference: 4 inputs -> 4 emissions of the running sum... except input 0
    // leaves the sum unchanged after the first fold initializes it
    val sums = out.select("value").collect().map(_.getLong(0)).toSeq
    assert(sums == Seq(0L, 1L, 3L, 6L))
  }

  test("continuous $group: float $sum widens to Double; $max orders timestamps") {
    val df = Seq(
      ("a", 1.5f, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("a", 2.25f, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("g", "f", "ts").coalesce(1)
    val out = pipeline.run(df,
      """[{"$group": {"_id": "$g", "_continuous": true,
                      "s": {"$sum": "$f"}, "latest": {"$max": "$ts"}}}]""")
    assert(out.schema("s").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val last = out.collect().last
    assert(last.getDouble(out.schema.fieldIndex("s")) == 3.75)
    // $max must keep the LARGER timestamp even though it arrived first
    assert(last.getTimestamp(out.schema.fieldIndex("latest")) ==
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
  }

  test("continuous $group per-key streaming emission across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val collected = scala.collection.mutable.Buffer.empty[(String, Long, Long)]
    val out = new Pipeline().run(input.toDF().toDF("g", "v"),
      """[{"$group": {"_id": "$g", "_continuous": true,
                      "s": {"$sum": "$v"}, "n": {"$count": {}}}}]""")
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        collected ++= b.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        ()
      }.start()
    try {
      input.addData(("a", 1L), ("a", 2L))
      q.processAllAvailable()
      input.addData(("a", 3L))
      q.processAllAvailable()
    } finally q.stop()
    assert(collected.toList == List(("a", 1L, 1L), ("a", 3L, 2L), ("a", 6L, 3L)))
  }

  test("start() auto-selects append mode for a _continuous $group") {
    // the README's advertised combination: _continuous group run via
    // StreamingPipeline.start — flatMapGroupsWithState(Append) is rejected by
    // Spark in an update-mode query, so start() must pick append itself
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(pipeline)
    val collected = scala.collection.mutable.Buffer.empty[(String, Long)]
    val q = sp.start(input.toDF().toDF("g", "v"),
      """[{"$group": {"_id": "$g", "_continuous": true,
                      "s": {"$sum": "$v"}}}]""",
      df => collected ++= df.collect().map(r => (r.getString(0), r.getLong(1))),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(("a", 1L), ("a", 2L))
      q.processAllAvailable()
    } finally q.stop()
    // exact per-message emission, run through start() without AnalysisException
    assert(collected.toList == List(("a", 1L), ("a", 3L)))
  }

  test("$deduplicate with _watermark uses TTL'd state (dropDuplicatesWithinWatermark)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val out = new StreamingPipeline(pipeline).run(input.toDF().toDF("ts", "v"),
      """[{"$deduplicate": {"expression": "$v",
           "_watermark": {"column": "ts", "delay": "10 seconds"}}}]""")
    val q = out.writeStream.format("memory").queryName("t_wmdedup")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData((t0, 1L), (t0, 1L), (t0, 2L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("t_wmdedup").select("v").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("$http runs inside a foreachBatch sink suffix") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/e", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = """{"ok":true}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Long)]
      val results = scala.collection.mutable.Buffer.empty[String]
      val q = new StreamingPipeline(pipeline).start(input.toDF().toDF("_id", "v"),
        s"""[{"$$match": {"v": {"$$gte": 1}}},
             {"$$http": {"url": "http://127.0.0.1:${server.getAddress.getPort}/e",
                         "as": "result", "retries": 0}}]""",
        df => results ++= df.select("result").collect().map(_.getString(0)))
      try {
        input.addData(("a", 1L), ("b", 0L))
        q.processAllAvailable()
      } finally q.stop()
      assert(results.toList == List("""{"ok":true}"""))
    } finally server.stop(0)
  }

  test("BatchGuard runs an effect once per batch id") {
    val g = new BatchGuard(
      java.nio.file.Files.createTempDirectory("graft_guard").toString)
    var runs = 0
    g.once(7L) { runs += 1 }
    g.once(7L) { runs += 1 } // replay skipped
    g.once(8L) { runs += 1 }
    assert(runs == 2)
  }

  test("group state survives a checkpointed restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def write(n: Int, rows: Seq[(String, Long)]): Unit =
      rows.toDF("g", "v").coalesce(1).write.mode("overwrite")
        .parquet(s"$srcDir/batch$n")
    def runOnce(): Map[String, Long] = {
      val got = scala.collection.mutable.Map.empty[String, Long]
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/batch*")
      val q = new StreamingPipeline(pipeline).start(stream,
        """[{"$group": {"_id": "$g", "s": {"$sum": "$v"}}}]""",
        df => df.collect().foreach(r => got(r.getString(0)) = r.getLong(1)),
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
      got.toMap
    }
    write(1, Seq(("a", 1L), ("b", 5L)))
    assert(runOnce() == Map("a" -> 1L, "b" -> 5L))
    write(2, Seq(("a", 2L)))
    // restart from checkpoint: state carries the previous sums
    assert(runOnce() == Map("a" -> 3L))
  }

  test("streaming pipeline with $merge sink upserts per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val st = new InMemoryStore(spark)
    st.overwrite("c", Seq(("seed", 0L)).toDF("_id", "s"))
    val input = MemoryStream[(String, Long)]
    val sp = new StreamingPipeline(new Pipeline(store = st))
    val echoes = scala.collection.mutable.Buffer.empty[Long]
    val q = sp.start(input.toDF().toDF("_id", "s"),
      """[{"$group": {"_id": "$_id", "s": {"$sum": "$s"}}},
          {"$merge": {"into": "c"}}]""",
      df => echoes += df.count(),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData(("x", 5L))
      q.processAllAvailable()
      input.addData(("x", 2L))
      q.processAllAvailable()
    } finally q.stop()
    // state-store group keeps the running sum; merge upserted the latest
    assert(rows(st.read("c")) == Set(List("seed", 0L), List("x", 7L)))
  }

  test("streaming $per trickle: flush deadline anchors to buffering START, not last arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    // amount is never reached; a steady trickle FASTER than the timeout
    // would starve a deadline that re-arms on every delivering batch
    // (Per.java:40-48 anchors the flush to when buffering started)
    val out = graft.streaming.StreamingPer.per(input.toDF().toDF("key", "doc"),
      amount = 100, as = "batch", timeoutMs = 600L)
    val q = out.writeStream.format("memory").queryName("pertrickle")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    def flushed(): Long =
      spark.sql("select count(*) from pertrickle").head().getLong(0)
    try {
      var sawFlushMidTrickle = false
      var i = 0
      val end = System.currentTimeMillis + 8000
      while (!sawFlushMidTrickle && System.currentTimeMillis < end) {
        i += 1
        input.addData((s"k$i", s"""{"_id":"d$i"}"""))
        Thread.sleep(150)
        sawFlushMidTrickle = flushed() > 0
      }
      assert(sawFlushMidTrickle,
        "steady sub-amount trickle starved the $per timeout flush")
    } finally q.stop()
  }

  test("composed streaming restart: $deduplicate -> $group -> $merge is effectively-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt2")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def write(n: Int, rows: Seq[(String, String, Long)]): Unit =
      rows.toDF("_id", "g", "v").coalesce(1).write.mode("overwrite")
        .parquet(s"$srcDir/batch$n")
    val st = new InMemoryStore(spark)
    st.overwrite("agg", Seq.empty[(String, Long)].toDF("_id", "s"))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/batch*")
      val sp = new StreamingPipeline(new Pipeline(store = st))
      val q = sp.start(stream,
        """[{"$deduplicate": {"expression": "$_id"}},
            {"$group": {"_id": "$g", "s": {"$sum": "$v"}}},
            {"$merge": {"into": "agg"}}]""",
        _ => (), checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    // m2 is a duplicate within the batch: dedup state must drop it
    write(1, Seq(("m1", "a", 1L), ("m2", "a", 10L), ("m2", "a", 10L),
      ("m3", "b", 5L)))
    runOnce()
    assert(rows(st.read("agg")) == Set(List("a", 11L), List("b", 5L)))
    // restart from checkpoint: m2 arriving AGAIN is dropped by the restored
    // dedup state, and the group state carries the previous sums — the
    // store ends effectively-once despite the kill-and-restart
    write(2, Seq(("m2", "a", 10L), ("m4", "a", 2L)))
    runOnce()
    assert(rows(st.read("agg")) == Set(List("a", 13L), List("b", 5L)))
  }

  test("streaming $per: full batches emit immediately, a PARTIAL batch flushes on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("key", "doc")
    val out = graft.streaming.StreamingPer.per(stream,
      amount = 5, as = "batch", timeoutMs = 300L)
    // a periodic trigger so the processing-time timer can fire on an
    // otherwise idle stream
    val q = out.writeStream.format("memory").queryName("perstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    def batches(): List[List[String]] =
      spark.sql("select doc from perstream").collect().toList
        .map { r =>
          val d = graft.dynamic.DynJson.parse(r.getString(0))
          d.path("batch").asScala.toList.map(_.path("_id").textValue)
        }
    try {
      // NOTE: no processAllAvailable here — a stateful query with
      // processing-time timers keeps scheduling batches, so that call
      // never returns; poll the sink with a deadline instead
      def await(n: Int): Unit = {
        val deadline = System.currentTimeMillis + 30000
        while (batches().size < n && System.currentTimeMillis < deadline)
          Thread.sleep(100)
      }
      // 7 docs with amount=5: one full batch emits at once, 2 stay buffered
      input.addData((1 to 7).map(i => (s"k$i", s"""{"_id":"d$i"}""")): _*)
      await(1)
      // the full batch is always FIRST: it emits inside the data
      // micro-batch, the partial only via a later timer trigger — but a
      // slow poll may already see both, so assert order, not count
      assert(batches().head.size == 5, s"got ${batches()}")
      // no new data: the 300 ms timer fires on a later trigger and flushes
      // the partial batch of 2
      await(2)
      val all = batches()
      assert(all.map(_.size) == List(5, 2), s"got $all")
      assert(all.flatten.toSet == (1 to 7).map(i => s"d$i").toSet)
    } finally q.stop()
  }

  test("streaming training-data ingest: normalize -> quality gate -> exact dedup") {
    // The LLM-layer ops are Column expressions, so the whole C4-style
    // ingest prefix (ftfy cleanup, quality floor, md5 exact dedup) runs
    // NATIVELY on an unbounded stream — dedup state in the state store,
    // first arrival wins across micro-batches.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
      .withColumn("clean", graft.llm.TextOps.normalizeText(col("text")))
      .withColumn("q", graft.llm.TextOps.qualityFeatures(col("clean")).quality)
      .filter(col("q") > 0.4 && graft.llm.TextOps.tokenCount(col("clean")) >= 3)
      .withColumn("text_md5", md5(col("clean")))
      .dropDuplicates("text_md5")
    val q = docs.writeStream.format("memory").queryName("t_ingest")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "the  quick\tbrown fox jumps over the lazy dog today"), // ws-dup of 1
        (3L, "!!! ### $$$ %%% ^^^")) // fails the quality gate
      q.processAllAvailable()
      input.addData(
        (4L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
        (5L, "a genuinely different sentence with enough words here"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("t_ingest").select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    // 2 collapses into 1 (normalization), 3 gated, 4 deduped across batches
    assert(kept == Seq(1L, 5L), s"kept=$kept")
  }

  test("tokenizers run natively on a stream: broadcast vocab, no state") {
    // wordpiece + unigram encode are broadcast-map scans — attaching
    // them to an unbounded DataFrame needs no state store and no
    // output-mode change; per-batch results match the batch encoders.
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq("the", "fox", "dog", "##o", "##x", "##g", "f", "d",
      "t", "##h", "##e", "o")
    val pieces = Map("t" -> -1.0, "th" -> -0.5, "he" -> -0.7, "e" -> -1.2,
      "h" -> -1.5, "fox" -> -0.3, "f" -> -2.0, "o" -> -1.0, "x" -> -2.0)
    val input = MemoryStream[(Long, String)]
    val enc = graft.llm.UnigramOps.encode(
      graft.llm.BpeOps.wordpieceEncode(input.toDF().toDF("doc_id", "text"),
        "text", vocab), "text", pieces, 3)
      .select(col("doc_id"), col("wp"), col("um_n"), col("um_unk"))
    val q = enc.writeStream.format("memory").queryName("t_tok")
      .outputMode("append").start()
    try {
      input.addData((1L, "the fox"), (2L, "zzz"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_tok").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getInt(2),
        r.getInt(3)))).toMap
    assert(got(1L)._1 == Seq("the", "fox"))
    assert(got(1L)._2 == 3 && got(1L)._3 == 0) // [th][e] (2) + [fox] (1)
    assert(got(2L)._1 == Seq("[UNK]"))
    assert(got(2L)._3 == 1, "unigram UNKs the un-covered word")
  }

  test("streaming near-dedup: bounded bucket state flags near-dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = "the quick brown fox jumps over the lazy dog and then it " +
      "runs back home to rest quietly tonight"
    val verdicts = graft.streaming.StreamingNearDedup.verdicts(
      input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      shingleK = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
    val q = verdicts.writeStream.format("memory").queryName("t_neardup")
      .outputMode("append").start()
    try {
      input.addData((1L, base),
        (2L, "a completely different document about rivers and trees"))
      q.processAllAvailable()
      // batch 2: a near-dup of doc 1 (one word changed), an exact dup of
      // doc 1, and a fresh unique doc
      input.addData(
        (3L, base.replace("quietly", "loudly")),
        (4L, base),
        (5L, "yet another unrelated body of text with novel words only"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_neardup")
      .select("doc_id", "dup_of", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byDoc = got.groupBy(_._1)
    // 3 and 4 are flagged against the batch-1 owner (doc 1); 2 and 5 never
    assert(byDoc.keySet == Set(3L, 4L))
    assert(got.forall(_._2 == 1L))
    // the exact dup's signature estimate is 1.0 in every flagged band
    assert(byDoc(4L).forall(_._3 == 1.0))
    // the near dup estimates below 1 but at/above the threshold
    assert(byDoc(3L).forall(v => v._3 >= 0.5 && v._3 < 1.0))
  }

  test("streaming near-dedup: bucket owners survive a checkpointed restart") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_ckpt")
    val srcDir = dir.resolve("src").toString
    val ckpt = dir.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val base = "the quick brown fox jumps over the lazy dog and then it " +
      "runs back home to rest quietly tonight"
    def write(n: Int, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(s"$srcDir/batch$n")
    def runOnce(): Seq[(Long, Long)] = {
      val got = scala.collection.mutable.Buffer.empty[(Long, Long)]
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(s"$srcDir/batch*")
      val v = graft.streaming.StreamingNearDedup.verdicts(
        stream, "text", "doc_id", 3, 8, 4, 0.5)
      val q = v.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => got += ((r.getLong(0), r.getLong(1))))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      got.toSeq.distinct
    }
    write(1, Seq((1L, base)))
    assert(runOnce() == Seq.empty) // sole owner, nothing to flag
    write(2, Seq((7L, base))) // exact dup arriving AFTER the restart
    // the restarted query still knows doc 1 owns the buckets
    assert(runOnce() == Seq((7L, 1L)))
  }
}
