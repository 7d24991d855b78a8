package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.dynamic.{DynJson, DynPipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The shared stage front-end ([[StageSpec]]): one envelope, one stage
  * table, and one error vocabulary for the typed and dynamic engines. */
class StageFrontEndSpec extends SparkSpec with DifferentialHarness {

  /** Malformed stage specs: each must be rejected by BOTH engines with the
    * same IllegalArgumentException from `run`, before any Spark job. */
  private val malformed = Seq(
    // envelope
    """[5]""",
    """[{"$match": {"a": 1}, "$project": {"a": 1}}]""",
    """[{"$match": {"a": 1}, "_trace": "yes"}]""",
    """[{"_trace": true}]""",
    """[{"match": {"a": 1}}]""",
    // $unwind
    """[{"$unwind": {"path": 5}}]""",
    """[{"$unwind": "arr"}]""",
    """[{"$unwind": 5}]""",
    """[{"$unwind": {"path": "$arr", "preserveNullAndEmptyArrays": "yes"}}]""",
    // $group and its accumulators ($bucket / $count / $bucketAuto sugar)
    """[{"$group": 5}]""",
    """[{"$group": {"n": {"$sum": 1}}}]""",
    """[{"$group": {"_id": "$s", "n": 5}}]""",
    """[{"$group": {"_id": "$s", "n": {"$sum": 1, "$avg": "$a"}}}]""",
    """[{"$group": {"_id": null, "t": {"$bogus": "$a"}}}]""",
    """[{"$group": {"_id": null, "t": {"$topN": {"output": "$a", "n": 2}}}}]""",
    """[{"$group": {"_id": null, "t": {"$topN": {"output": "$a",
         "sortBy": {"a": 1}}}}}]""",
    """[{"$group": {"_id": null, "t": {"$top": {"output": "$a", "sortBy": 1}}}}]""",
    """[{"$group": {"_id": null, "t": {"$maxN": {"input": "$a", "n": "two"}}}}]""",
    """[{"$group": {"_id": null, "t": {"$percentile": {"input": "$a", "p": 0.5}}}}]""",
    """[{"$group": {"_id": null, "t": {"$count": 1}}}]""",
    """[{"$count": 5}]""",
    """[{"$bucket": {"groupBy": "$a", "boundaries": [3, 1]}}]""",
    """[{"$bucketAuto": {"groupBy": "$a", "buckets": 2,
         "output": {"t": {"$bogus": "$a"}}}}]""",
    // $setWindowFields
    """[{"$setWindowFields": {"sortBy": {"_id": 1},
         "output": {"c": {"$covariancePop": "$a"}}}}]""",
    """[{"$setWindowFields": {"output": {"r": {"$rank": {}}}}}]""",
    """[{"$setWindowFields": {"sortBy": {"_id": 1},
         "output": {"r": {"$sum": "$a", "window": {"documents": ["x", 0]}}}}}]""",
    """[{"$setWindowFields": {"sortBy": {"_id": 1, "a": 1},
         "output": {"d": {"$derivative": {"input": "$a"}}}}}]""",
    """[{"$setWindowFields": {"sortBy": {"_id": 1},
         "output": {"s": {"$shift": {"output": "$a", "by": "one"}}}}}]""",
    """[{"$setWindowFields": {"sortBy": {"_id": 1},
         "output": {"e": {"$expMovingAvg": {"input": "$a", "N": 2, "alpha": 0.5}}}}}]""",
    """[{"$setWindowFields": {"output": {"x": {"$bogus": "$a"}}}}]""",
    """[{"$setWindowFields": {"output": {"x.y": {"$sum": "$a"}}}}]""",
    // $sort / $limit / $skip / $sample
    """[{"$sort": 1}]""",
    """[{"$limit": "3"}]""",
    """[{"$skip": -1}]""",
    """[{"$sample": {}}]""",
    // $lookup
    """[{"$lookup": {"from": 5, "localField": "a", "foreignField": "k", "as": "d"}}]""",
    """[{"$lookup": {"from": "dim", "as": "d"}}]""",
    """[{"$lookup": {"from": "dim", "as": "d", "let": {"x": "$a"},
         "pipeline": [{"$project": {"v": "$$x"}}]}}]""",
    """[{"$lookup": {"from": "dim", "as": "d", "let": {"x": "$a"},
         "pipeline": [{"$match": {"$expr": {"$eq": ["$k", "$$x"]}}},
                      {"$group": {"_id": null}}]}}]""",
    // sinks
    """[{"$merge": {"into": 5}}]""",
    """[{"$merge": {"into": "c", "whenMatched": "bogus"}}]""",
    """[{"$merge": {"into": "c", "whenMatched": [{"$match": {}}]}}]""",
    """[{"$out": 5}]""",
    """[{"$delete": {"from": 5}}]""",
    """[{"$probe": {"name": 5, "topic": "t"}}]""",
    """[{"$per": {"amount": 0, "as": "b"}}]""",
    """[{"$delay": {"topic": "t", "duration": 1, "_maxTopics": 0}}]""",
    // $densify / $fill / $deduplicate
    """[{"$densify": {"field": "a", "range": {"step": 1, "bounds": "everything"}}}]""",
    """[{"$densify": {"field": "a", "range": {"step": 1, "bounds": "partition"}}}]""",
    """[{"$fill": {"output": {"a": {"method": "nearest"}}}}]""",
    """[{"$fill": {"sortBy": {"_id": 1, "b": 1}, "output": {"a": {"method": "linear"}}}}]""",
    """[{"$deduplicate": {"expression": "$a", "_watermark": {"column": 5}}}]""",
    // scoring and fusion inputs
    """[{"$score": {"score": "$a", "normalization": "zscore"}}]""",
    """[{"$rankFusion": {"input": {"pipelines": {"p": [{"$match": {}}]}}}}]""",
    """[{"$rankFusion": {"input": {"pipelines": {"p": [{"$project": {"a": 1}}]}}}}]""",
    """[{"$scoreFusion": {"input": {"pipelines": {"p": [{"$limit": 2}]}}}}]""")

  test("both engines reject malformed stage specs with the same message, before any job") {
    val jobs = new AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") ==
            "stage-front-end-marker")) marker.countDown()
        else if (marker.getCount > 0) jobs.incrementAndGet()
    }
    val (t0, d0) = (typedDf, dynDf) // resolve the lazy inputs up front
    spark.sparkContext.addSparkListener(listener)
    try {
      malformed.foreach { p =>
        val t = intercept[IllegalArgumentException](new Pipeline().run(t0, p))
        val d = intercept[IllegalArgumentException](DynPipeline.run(d0, p))
        assert(t.getMessage == d.getMessage, s"different messages for $p")
      }
      // listener events arrive in order: once the marker job is seen, every
      // job the rejections might have started has been counted
      spark.sparkContext.setJobGroup("stage-front-end-marker", "marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, s"${jobs.get} Spark jobs ran while rejecting")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("_trace: observed by the typed engine, accepted and ignored by the dynamic one") {
    val p = """[{"$match": {"a": {"$gte": 1}}, "_trace": true}]"""
    assert(typedOut(p) == dynOut(p))
    assert(dynOut(p).size == 5)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val got = scala.collection.mutable.Buffer.empty[String]
    val q = new graft.streaming.DynStreamingPipeline().start(
      input.toDF().toDF("doc"), p,
      df => got ++= df.select("doc").collect().map(_.getString(0)),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      input.addData("""{"_id":"0","a":1}""", """{"_id":"1","a":0}""",
        """{"_id":"2","a":5}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(got.map(DynJson.parse(_).path("_id").textValue).toSet == Set("0", "2"))
  }

  test("the stage table classifies every stage once; $scoreFusion is batch-only") {
    import StageSpec.{info => _, _}
    def info(n: String) = StageSpec.info(n)
    assert(info("$scoreFusion").kind == BatchOnly && info("$scoreFusion").scores)
    assert(info("$rankFusion").kind == BatchOnly)
    assert(info("$match").fusions == Set("$rankFusion", "$scoreFusion"))
    assert(info("$score").fusions == Set("$scoreFusion"))
    assert(info("$http").fusable && info("$http").splitsStream)
    assert(!info("$group").splitsStream && !info("$group").fusable)
    assert(info("$wait").kind == Local) // unknown: extension or ignored
    val parsed = parse("""[{"$unwind": "$arr"}, {"$group": {"_id": "$s"}},
      {"$match": {}, "_trace": true}]""")
    assert(parsed.map(_.index) == List(0, 1, 2))
    assert(parsed.head.args == Unwind("arr", None, false, false))
    assert(parsed(1).args == Group(org.json4s.JString("$s"), Nil))
    assert(parsed(2).trace && parsed(2).args == Raw)
  }

  test("$unwind newIds: both engines give every unwound document a fresh _id") {
    val p = """[{"$unwind": {"path": "$arr", "newIds": true}}]"""
    val ids = dynOut(p).toSeq.map(_.path("_id").textValue)
    assert(ids.size == 8 && ids.distinct.size == 8 &&
      ids.forall(_.matches("[0-9a-f-]{36}")))
    assert(typedOut(p).size == 8)
  }
}
