package graft.streaming

import graft.{Pipeline, StageSpec}
import graft.StageSpec.Stage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Runs a Mongo pipeline over an unbounded (Structured Streaming) DataFrame.
  *
  * Mapping of the reference's infinite-stream semantics
  * (SURVEY.md §2/§3) onto Spark's model:
  *
  *  - stateless stages ($match/$project/$addFields/$unwind/...) apply to the
  *    streaming DataFrame unchanged — Catalyst plans them incrementally;
  *  - `$group` becomes a streaming aggregation in **update** output mode:
  *    one emission per changed key per micro-batch, the documented
  *    approximation of the reference's per-message continuous emission
  *    (Pipeline.java:68-81, SURVEY §2.4). State lives in the Spark state
  *    store (HDFS/RocksDB) instead of a MongoDB collection;
  *  - `$deduplicate` becomes `dropDuplicates` on the expression value —
  *    exact, checkpointed, replacing the reference's Mongo seen-set;
  *  - sink/effect stages (`$merge`, `$send`, ...) cannot run inside an
  *    incremental plan; the pipeline is split at the first sink stage and the
  *    suffix runs per micro-batch via `foreachBatch`, which is exactly the
  *    reference's at-least-once micro-batched side-effect model (retries =
  *    checkpoint replay instead of retry-forever, SURVEY §3).
  */
final class StreamingPipeline(pipeline: Pipeline) {

  /** Transform the streaming frame with the native prefix. The caller owns
    * the writeStream; use [[start]] for the full pipeline incl. sinks. */
  def run(stream: DataFrame, pipelineJson: String): DataFrame =
    StreamSplit.run(stream, pipelineJson, pipeline.run)

  /** Run the whole pipeline: native prefix on the stream, sink suffix (if
    * any) + `collect` callback per micro-batch. Update output mode so `$group`
    * emits per changed key per batch — except when the prefix holds a
    * `_continuous` `$group` (flatMapGroupsWithState), which Spark requires to
    * run in append mode; `outputMode` overrides the choice explicitly.
    *
    * @param batchGuard optional [[BatchGuard]]: skips the sink suffix for
    *        micro-batches already processed before a crash/restart, turning
    *        checkpoint-replay at-least-once into effectively-once for the
    *        side effects (the reference is plain at-least-once — retries may
    *        re-send; SURVEY §2.8).
    */
  def start(stream: DataFrame, pipelineJson: String,
      collect: DataFrame => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None,
      batchGuard: Option[BatchGuard] = None,
      outputMode: Option[String] = None): StreamingQuery =
    // a `_continuous: true` $group compiles to flatMapGroupsWithState
    // (Append), which Spark only allows in an append-output-mode query
    StreamSplit.start(stream, pipelineJson, pipeline.run, collect, trigger,
      checkpoint, batchGuard, native => outputMode.getOrElse(
        if (native.exists(_.args match {
          case g: StageSpec.Group => g.continuous
          case _                  => false
        })) "append" else "update"))
}

object StreamingPipeline {

  /** Spark's RocksDB state store provider (in sql/core since 3.2; the
    * rocksdbjni native lib ships with the Spark distribution). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's state store provider switched (restored
    * after). The provider is a session conf captured when a streaming query
    * STARTS, so this scopes correctly around query construction + start.
    *
    * When to switch: the default HDFSBackedStateStoreProvider keeps every
    * key's state in executor HEAP (one in-memory map per store, snapshots
    * to the checkpoint dir). For `$group`/`$deduplicate`/near-dedup state
    * at 100 TB input — easily 10⁸–10⁹ keys — that heap residency is the
    * scale killer; RocksDB keeps the working set off-heap on local SSD
    * with block-cache reads, bounding heap at O(cache), not O(keys). Rule
    * of thumb (measured in RocksDBStateSpec at toy scale, extrapolated):
    * prefer RocksDB beyond ~10⁶ keys per executor or when state-size ×
    * replay-window no longer fits the executor heap. */
  def withStateStoreProvider[T](spark: org.apache.spark.sql.SparkSession,
      provider: String)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}

/** Where to cut a pipeline for Structured Streaming — shared by the typed
  * and the dynamic (schemaless) streaming runners. */
private[streaming] object StreamSplit {

  /** Split the parsed pipeline: the longest prefix with no sink, external
    * effect or batch-only stage ([[StageSpec.Info.splitsStream]]) runs
    * natively on the stream; the remainder runs per micro-batch in
    * foreachBatch, i.e. with PER-MICRO-BATCH semantics — windows and sorts
    * see one batch at a time, the only meaning they can have on an
    * infinite input. */
  def split(pipelineJson: String): (List[Stage], List[Stage]) =
    StageSpec.parse(pipelineJson).span(!_.info.splitsStream)

  def run(stream: DataFrame, pipelineJson: String,
      runStages: (DataFrame, List[Stage]) => DataFrame): DataFrame = {
    val (native, rest) = split(pipelineJson)
    require(rest.isEmpty, "pipeline contains sink or batch-only stages — " +
      s"use start(): ${rest.map(_.name).mkString(" ")}")
    runStages(stream, native)
  }

  /** The `start` body shared by the typed and dynamic runners: native
    * prefix on the stream, sink suffix + `collect` per micro-batch. */
  def start(stream: DataFrame, pipelineJson: String,
      runStages: (DataFrame, List[Stage]) => DataFrame,
      collect: DataFrame => Unit, trigger: Trigger, checkpoint: Option[String],
      batchGuard: Option[BatchGuard], mode: List[Stage] => String): StreamingQuery = {
    val (native, rest) = split(pipelineJson)
    val writer: DataStreamWriter[Row] = runStages(stream, native).writeStream
      .outputMode(mode(native))
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        def effect(): Unit = collect(runStages(batch, rest))
        batchGuard.fold(effect())(_.once(batchId)(effect()))
      }
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }
}

/** The dynamic (schemaless) counterpart of [[StreamingPipeline]]: runs a
  * `(key, doc)` JSON stream through [[graft.dynamic.DynPipeline]] with the
  * same split rule — stateless/group prefix natively (update mode), sink
  * and batch-only suffix per micro-batch in foreachBatch. */
final class DynStreamingPipeline(
    ctx: graft.dynamic.DynPipeline.DynCtx = graft.dynamic.DynPipeline.DynCtx()) {

  import graft.dynamic.DynPipeline

  /** Transform the streaming frame with the native prefix. The caller owns
    * the writeStream; use [[start]] for the full pipeline incl. sinks. */
  def run(stream: DataFrame, pipelineJson: String): DataFrame =
    StreamSplit.run(stream, pipelineJson, DynPipeline.run(_, _, ctx))

  def start(stream: DataFrame, pipelineJson: String,
      collect: DataFrame => Unit,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None,
      batchGuard: Option[BatchGuard] = None,
      outputMode: String = "update"): StreamingQuery =
    StreamSplit.start(stream, pipelineJson, DynPipeline.run(_, _, ctx), collect,
      trigger, checkpoint, batchGuard, _ => outputMode)
}

/** File-marker idempotence for foreachBatch side effects: a batch id runs its
  * effect once; replays (checkpoint recovery) are skipped. The marker commits
  * AFTER the effect — a crash between effect and marker re-runs the batch,
  * so downstream writes should be idempotent per batch (same guarantee as
  * Spark's own file sinks). */
final class BatchGuard(dir: String) {
  java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))

  private def marker(batchId: Long) =
    java.nio.file.Paths.get(dir, s"batch-$batchId.done")

  def once(batchId: Long)(effect: => Unit): Unit =
    if (!java.nio.file.Files.exists(marker(batchId))) {
      effect
      java.nio.file.Files.createFile(marker(batchId))
    }
}
