package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kafka transport binding — the production source/sink for the reference's
  * message loop (Pipeline.java:273-299 consumes a topic and produces to
  * topics named by `$send`/`$delay`; Context.java:32 carries the producer).
  *
  * Like [[MongoStore]], the connector is addressed by its DataSource NAME
  * (`"kafka"`), so this compiles and unit-tests without the
  * spark-sql-kafka jar; at runtime Spark resolves the format from the
  * session's jars and fails with a clear "Failed to find data source:
  * kafka" if it isn't deployed. All connection state is
  * constructor-injected; `kafka.`-prefixed entries in `extraOptions` pass
  * straight to the Kafka client (security.protocol, sasl.*, …).
  *
  * Option mapping (Structured Streaming Kafka integration names):
  *  - `kafka.bootstrap.servers` ← constructor `bootstrapServers`
  *  - read `subscribe`          ← comma-joined topic list
  *  - read `startingOffsets`    ← `earliest` default (the reference joins
  *    an existing consumer GROUP and resumes committed offsets; Spark
  *    owns offsets in the CHECKPOINT instead, so "resume" maps to
  *    restarting from the same checkpoint dir and `startingOffsets` only
  *    applies to the very first start)
  *  - read `maxOffsetsPerTrigger` ← per-micro-batch row budget (backfill
  *    throttle; unset = whole backlog in one batch)
  *  - read `failOnDataLoss=false` — retention-expired offsets log and
  *    skip rather than kill the query, matching the reference's
  *    retry-forever posture (Util.java:47,130-148)
  *  - write `topic` ← the sink option is the DEFAULT topic; a `topic`
  *    COLUMN on the frame (as [[producer]] emits for `$send`/`$delay`
  *    routing) overrides it per record, which is how one produce call
  *    fans out to per-message target topics exactly like the reference's
  *    `producer.send(new ProducerRecord(topic, …))`
  */
final class KafkaBus(bootstrapServers: String,
    extraOptions: Map[String, String] = Map.empty) {

  require(bootstrapServers.nonEmpty, "bootstrapServers must be non-empty")

  private[graft] def readOptions(topics: Seq[String],
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): Map[String, String] = {
    require(topics.nonEmpty, "at least one topic to subscribe")
    require(topics.forall(t => t.nonEmpty && !t.contains(",")),
      s"topic names must be non-empty and comma-free: $topics")
    Map("kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> "false") ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
      extraOptions
  }

  private[graft] def writeOptions(defaultTopic: Option[String]): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrapServers) ++
      defaultTopic.map("topic" -> _) ++ extraOptions

  /** Unbounded (key, <fields…>) rows from a topic subscription — feed
    * straight into `StreamingPipeline.start`. */
  def readStream(spark: SparkSession, topics: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    Messages.parse(
      spark.readStream.format("kafka")
        .options(readOptions(topics, startingOffsets, maxOffsetsPerTrigger))
        .load(),
      schema)

  /** Bounded read of a topic's current contents (batch replays/backfills). */
  def read(spark: SparkSession, topics: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    Messages.parse(
      spark.read.format("kafka").options(readOptions(topics)).load(),
      schema)

  /** Producer callback for `Pipeline(producer = …)` — the `$send`/`$delay`
    * transport. The batch may carry a `__topic` routing column (SinkStages
    * emits one); it becomes Kafka's per-record `topic` column so a single
    * produce call fans out across target topics. Records without a route
    * fall back to `defaultTopic`. */
  def producer(defaultTopic: String): DataFrame => Unit = { batch =>
    routed(batch, defaultTopic).write.format("kafka")
      .options(writeOptions(Some(defaultTopic))).save()
  }

  /** (key, value, topic) records for `batch`, with the `__topic` routing
    * column (when present) mapped to Kafka's per-record topic — the shared
    * [[Messages.routed]] contract, so it stays unit-testable without the
    * jar and bit-identical to the [[FileBus]] conformance transport. */
  private[graft] def routed(batch: DataFrame, defaultTopic: String): DataFrame =
    Messages.routed(batch, defaultTopic)

  /** Per-micro-batch collect sink for `StreamingPipeline.start(collect = …)`:
    * the batch→Kafka leg of the reference's topic-to-topic loop. */
  def collect(topic: String): DataFrame => Unit = batch =>
    Messages.toJson(batch).write.format("kafka")
      .options(writeOptions(Some(topic))).save()
}
