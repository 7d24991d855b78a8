package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Pipeline
import graft.sources.FileBus
import graft.streaming.{DynStreamingPipeline, StreamingPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable

/** One generated input record: the JSON line written to the `in` topic, and
  * the scheduled creation stamp carried in its document. */
final case class Event(line: String, ts: Long, model: Any)

/** One record read back from the `out` topic, with the time its file was
  * first seen there. */
final case class OutRecord(key: String, doc: JsonNode, seenMs: Double)

/** A streaming workload: how its input records look, which pipeline runs
  * over them, and the plain-Scala reference its outputs are checked against.
  * Instances are stateful (the reference accumulates every delivered
  * record), so each run makes a fresh one. */
sealed trait Workload {
  def name: String
  /** Records per second of the open-loop phases (redeliveries included). */
  def rate: Int
  /** Records of the unmeasured warm-up backlog, and of each of the three
    * measured ones. */
  def warmupRows: Int
  def backlogRows: Int

  /** A fresh event with id number `n`, scheduled at `ts`. */
  def fresh(rnd: java.util.SplittableRandom, n: Long, ts: Long): Event
  /** Record one delivery of `e` in the reference (`redelivery` for a
    * second copy of an event already delivered). */
  def delivered(e: Event, redelivery: Boolean): Unit

  /** Start the pipeline on the bus's `in` topic, producing into `out`. */
  def start(spark: SparkSession, bus: FileBus, producer: DataFrame => Unit,
      checkpoint: String): StreamingQuery

  /** Latency samples of the outputs whose event was scheduled inside
    * `[from, until)`: (scheduled creation stamp, ms from it until the
    * result was visible). */
  def latencies(out: Seq[OutRecord], from: Long, until: Long): Seq[(Long, Double)]

  /** Compare the outputs with the reference: the number of mismatches and
    * a description of the first few. */
  def check(out: Seq[OutRecord]): (Long, String)
}

object Workload {
  def apply(name: String): Workload = name match {
    case "stream_stateful"   => new StreamStateful
    case "stream_schemaless" => new StreamSchemaless
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private[perfbench] val mapper = new ObjectMapper()

  /** A FileBus record line `{"key": …, "value": "<doc JSON>"}`. The docs
    * built here hold no backslashes, so escaping quotes is enough. */
  private[perfbench] def record(key: String, doc: String): String =
    "{\"key\":\"" + key + "\",\"value\":\"" + doc.replace("\"", "\\\"") + "\"}"
}

object StreamStateful {
  private final case class Ev(g: Int, v: Int)
}

/** Typed engine, stateful: `$match → $addFields → $deduplicate →
  * $group{n, sum, $max ts} → $send out` over 10³ group keys with 10 %
  * redeliveries, on the default (HDFS-backed) state store. The backlogs
  * (1.2 M records) grow the dedup set past 10⁶ ids. */
final class StreamStateful extends Workload {
  import StreamStateful.Ev
  val name = "stream_stateful"
  val rate = 500
  val warmupRows = 300000
  val backlogRows = 300000

  private val keys = 1000
  private val schema = StructType(Seq(
    StructField("_id", StringType), StructField("g", StringType),
    StructField("v", LongType), StructField("ts", LongType)))

  val pipeline: String =
    """[{"$match": {"v": {"$gte": 5}}},
      | {"$addFields": {"w": {"$multiply": ["$v", 2]}}},
      | {"$deduplicate": {"expression": "$_id"}},
      | {"$group": {"_id": "$g", "n": {"$sum": 1}, "sum": {"$sum": "$w"},
      |             "ts": {"$max": "$ts"}}},
      | {"$send": {"topic": "out"}}]""".stripMargin

  private val refN = mutable.Map.empty[String, Long]
  private val refSum = mutable.Map.empty[String, Long]

  def fresh(rnd: java.util.SplittableRandom, n: Long, ts: Long): Event = {
    val g = rnd.nextInt(keys); val v = rnd.nextInt(100)
    val id = s"e$n"
    Event(Workload.record(id,
      s"""{"_id":"$id","g":"g$g","v":$v,"ts":$ts}"""), ts, Ev(g, v))
  }

  // the reference: $match keeps v ≥ 5, $deduplicate drops every redelivery
  def delivered(e: Event, redelivery: Boolean): Unit = e.model match {
    case Ev(g, v) if !redelivery && v >= 5 =>
      val k = s"g$g"
      refN(k) = refN.getOrElse(k, 0L) + 1
      refSum(k) = refSum.getOrElse(k, 0L) + 2L * v
    case _ => ()
  }

  def start(spark: SparkSession, bus: FileBus, producer: DataFrame => Unit,
      checkpoint: String): StreamingQuery =
    new StreamingPipeline(new Pipeline(producer = producer)).start(
      bus.readStream(spark, Seq("in"), schema).drop("key"), pipeline,
      _ => (), trigger = Trigger.ProcessingTime(0),
      checkpoint = Some(checkpoint))

  // a group emission's event is its newest contributing one ($max ts)
  def latencies(out: Seq[OutRecord], from: Long, until: Long): Seq[(Long, Double)] =
    out.iterator.map(r => (r.doc.path("ts").asLong, r.seenMs))
      .collect { case (ts, seen) if ts >= from && ts < until =>
        (ts, seen - ts) }.toSeq

  // update mode re-emits a key whenever it changes: its largest n and sum
  // are the final ones
  def check(out: Seq[OutRecord]): (Long, String) = {
    val n = mutable.Map.empty[String, Long]
    val sum = mutable.Map.empty[String, Long]
    out.foreach { r =>
      val k = r.doc.path("_id").asText
      n(k) = math.max(n.getOrElse(k, Long.MinValue), r.doc.path("n").asLong)
      sum(k) = math.max(sum.getOrElse(k, Long.MinValue), r.doc.path("sum").asLong)
    }
    val bad = (refN.keySet ++ n.keySet).toSeq.sorted.filter { k =>
      n.get(k) != refN.get(k) || sum.get(k) != refSum.get(k)
    }
    (bad.size.toLong, bad.take(3).map { k =>
      s"$k: got n=${n.get(k)} sum=${sum.get(k)}, want n=${refN.get(k)} sum=${refSum.get(k)}"
    }.mkString("; "))
  }
}

object StreamSchemaless {
  private final case class Ev(id: String, uid: Int, amount: Long, n: Int,
      vip: Boolean, tags: String)
}

/** Dynamic engine, stateless: `(key, doc-JSON)` records with nested objects
  * and arrays through `$match{$expr} → $set → $setKey → $jslt → $send out`. */
final class StreamSchemaless extends Workload {
  import StreamSchemaless.Ev
  val name = "stream_schemaless"
  val rate = 500
  val warmupRows = 300000 // the interpreters need it to reach steady speed
  val backlogRows = 150000

  private val tiers = Array("gold", "silver", "bronze")
  private val countries = Array("NL", "BE", "DE", "FR", "US", "JP", "BR")
  private val tagWords = Array("new", "promo", "gift", "bulk", "return")

  val pipeline: String =
    """[{"$match": {"$expr": {"$gt": [{"$size": "$items"}, 0]}}},
      | {"$set": {"amount": {"$sum": {"$map": {"input": "$items", "as": "it",
      |             "in": {"$multiply": ["$$it.qty", "$$it.price"]}}}},
      |           "user.vip": {"$eq": ["$user.tier", "gold"]}}},
      | {"$setKey": "$user.geo.cc"},
      | {"$jslt": "{\"_id\": ._id, \"ts\": .ts, \"uid\": .user.id, \"amount\": .amount, \"n\": size(.items), \"vip\": .user.vip, \"tags\": join(.tags, \"|\")}"},
      | {"$send": {"topic": "out"}}]""".stripMargin


  // reference: order-independent count and checksum of the expected outputs
  private var refCount = 0L
  private var refSum = 0L

  private def digest(key: String, id: String, ts: Long, uid: Long,
      amount: Long, n: Long, vip: Boolean, tags: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(
      s"$key|$id|$ts|$uid|$amount|$n|$vip|$tags").toLong

  def fresh(rnd: java.util.SplittableRandom, n: Long, ts: Long): Event = {
    val id = s"d$n"
    val uid = rnd.nextInt(100000)
    val tier = tiers(rnd.nextInt(tiers.length))
    val cc = countries(rnd.nextInt(countries.length))
    val items = Seq.fill(rnd.nextInt(5))(
      (rnd.nextInt(500), 1 + rnd.nextInt(5), 100 + rnd.nextInt(9900)))
    val tags = Seq.fill(rnd.nextInt(4))(tagWords(rnd.nextInt(tagWords.length)))
    val doc = new StringBuilder(256)
    doc ++= s"""{"_id":"$id","ts":$ts,"user":{"id":$uid,"tier":"$tier","geo":{"cc":"$cc"}},"items":["""
    doc ++= items.map { case (sku, q, p) =>
      s"""{"sku":"s$sku","qty":$q,"price":$p}""" }.mkString(",")
    doc ++= "],\"tags\":["
    doc ++= tags.map(t => "\"" + t + "\"").mkString(",")
    doc ++= "]}"
    Event(Workload.record(s"u$uid", doc.toString), ts,
      Ev(id, uid, items.map { case (_, q, p) => q.toLong * p }.sum,
        items.size, tier == "gold", tags.mkString("|")))
  }

  // stateless: every delivery, redeliveries included, yields one output
  // when the $match keeps it; `$jslt` re-keys on the string `_id` it
  // produces, which replaces the `$setKey` key
  def delivered(e: Event, redelivery: Boolean): Unit = e.model match {
    case ev: Ev if ev.n > 0 =>
      refCount += 1
      refSum += digest(ev.id, ev.id, e.ts, ev.uid, ev.amount, ev.n, ev.vip, ev.tags)
    case _ => ()
  }

  // the FileBus producer serializes the dynamic frame's `doc` column as a
  // field of the record value, so open that envelope first
  private val recordSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType)))

  def start(spark: SparkSession, bus: FileBus, producer: DataFrame => Unit,
      checkpoint: String): StreamingQuery = {
    val stream = spark.readStream.schema(recordSchema).json(bus.topicDir("in"))
      .withColumnRenamed("value", "doc")
    new DynStreamingPipeline(graft.dynamic.DynPipeline.DynCtx(producer = producer))
      .start(stream, pipeline, _ => (), trigger = Trigger.ProcessingTime(0),
        checkpoint = Some(checkpoint))
  }

  // one output per delivery: an event's latency is its first output's
  def latencies(out: Seq[OutRecord], from: Long, until: Long): Seq[(Long, Double)] = {
    val first = mutable.Map.empty[String, (Long, Double)]
    out.foreach { r =>
      val ts = r.doc.path("ts").asLong
      if (ts >= from && ts < until) {
        val id = r.doc.path("_id").asText
        first.get(id) match {
          case Some((_, seen)) if seen <= r.seenMs => ()
          case _ => first(id) = (ts, r.seenMs)
        }
      }
    }
    first.valuesIterator.map { case (ts, seen) => (ts, seen - ts) }.toSeq
  }

  def check(out: Seq[OutRecord]): (Long, String) = {
    val sum = out.iterator.map { r =>
      val d = r.doc
      digest(r.key, d.path("_id").asText, d.path("ts").asLong,
        d.path("uid").asLong, d.path("amount").asLong, d.path("n").asLong,
        d.path("vip").asBoolean, d.path("tags").asText)
    }.sum
    val missing = math.abs(refCount - out.size)
    if (missing == 0 && sum == refSum) (0L, "")
    else (math.max(missing, 1L),
      s"got ${out.size} outputs (checksum $sum), want $refCount ($refSum)" +
        out.headOption.fold("")(r => s"; first: key=${r.key} doc=${r.doc}"))
  }
}
