package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

import scala.concurrent.Await
import scala.concurrent.duration._

/** Metrics that ride a materialization: [[checkpoint]] observes `aggs` on a
  * frame and eagerly `localCheckpoint`s it, so the aggregates are computed
  * by the checkpoint job itself instead of a second job over the result
  * (the per-job fixed cost dominates every metadata-scale caller). Eager
  * checkpoints delivering CollectMetrics is probed but undocumented, and
  * `Observation.get` waits forever; the wait here is bounded, and if the
  * metrics do not arrive the SAME `aggs` run as one explicit `agg` over the
  * checkpoint. No caller writes a fallback, so the fused and fallback rows
  * agree by construction. Sum aggregates given here should be null-safe
  * (`coalesce(sum(…), lit(0L))`): a sum over zero rows is null on both
  * paths. */
object Obs {
  /** The checkpoint action has already finished when the wait starts; the
    * metrics only have to cross the listener bus. */
  val WaitSec = 5L

  /** `df` materialized (eager localCheckpoint) plus the row of `aggs` over
    * it, computed by the same job. */
  def checkpoint(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val ck = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
    (ck, await(obs, ck, aggs))
  }

  /** The wait/fallback half of [[checkpoint]]: `obs`'s row, or `aggs`
    * computed over `ck` when it has not arrived after `timeoutSec`. */
  private[graft] def await(obs: Observation, ck: DataFrame, aggs: Seq[Column],
      timeoutSec: Long = WaitSec): Row =
    try Await.result(obs.future, timeoutSec.seconds)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        val caller = new Throwable().getStackTrace
          .find(!_.getClassName.startsWith(getClass.getName.stripSuffix("$")))
          .fold("?")(f => s"${f.getClassName.stripSuffix("$")}.${f.getMethodName}")
        System.err.println(s"[obs] $caller: observed metrics missing after " +
          s"${timeoutSec}s; running them as an explicit job")
        ck.agg(aggs.head, aggs.tail: _*).head()
    }
}
