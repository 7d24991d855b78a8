package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed global rank — the scale-safe replacement for
  * `rank().over(Window.orderBy(k))`, which plans an `Exchange
  * SinglePartition` and serializes the whole input through ONE reducer.
  *
  * Shape ([[globalOrder]]): range-repartition on the order columns (ties
  * co-locate, the ordering is total across partitions) + an in-partition
  * sort, localCheckpoint so the sort runs once, per-partition sums riding
  * that checkpoint job, prefix offsets driver-side; each caller then stamps
  * its own positions in one pass with the offsets broadcast. Ranks match
  * SQL `rank()` exactly (ties share the minimum rank) because equal keys
  * can never straddle a range boundary. Used by `$bucketAuto` in both
  * engines, and by `CorpusOps.prCurve` / `deterministicShuffle`.
  */
object GlobalRank {
  /** The partition id [[globalOrder]] tags each row with. */
  val PidCol = "__grank_pid"

  /** Up to this many partitions the per-partition sums ride the checkpoint
    * as `parts × measures` observed aggregates; above it they run as one
    * explicit grouped job, since that many aggregate expressions would
    * bloat codegen (and the fusion only pays in the fixed-cost regime). */
  val MaxFusedParts = 128

  /** `df` range-partitioned and sorted on `order` over
    * `spark.sql.shuffle.partitions` partitions, tagged with [[PidCol]] and
    * materialized, plus the prefix sums of each (long) `measures` column:
    * entry `p` holds the sums over partitions `< p`, the last entry (index
    * `parts`) the totals. */
  def globalOrder(df: DataFrame, order: Seq[Column],
      measures: Seq[Column]): (DataFrame, Array[Array[Long]]) = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn(PidCol, spark_partition_id())
    val m = measures.size
    val (ck, perPart) =
      if (parts <= MaxFusedParts) {
        val aggs = for (p <- 0 until parts; (e, i) <- measures.zipWithIndex)
          yield coalesce(sum(when(col(PidCol) === p, e)), lit(0L)).as(s"s${p}_$i")
        val (ck, row) = Obs.checkpoint(sorted, aggs: _*)
        (ck, Array.tabulate(parts, m)((p, i) => row.getLong(p * m + i)))
      } else {
        val ck = sorted.localCheckpoint()
        val sums = measures.map(e => sum(e))
        val got = ck.groupBy(col(PidCol)).agg(sums.head, sums.tail: _*)
          .collect().map(r => r.getInt(0) -> Array.tabulate(m)(i => r.getLong(i + 1)))
          .toMap
        (ck, Array.tabulate(parts)(p => got.getOrElse(p, new Array[Long](m))))
      }
    (ck, perPart.scanLeft(new Array[Long](m))((acc, s) =>
      Array.tabulate(m)(i => acc(i) + s(i))))
  }

  /** Returns `df` plus `rkName` = rank() over (ORDER BY `key` ASC NULLS
    * FIRST) and `nName` = total row count, without a single-partition
    * exchange. The result is materialized (localCheckpoint). */
  def withRank(df: DataFrame, key: String, rkName: String, nName: String): DataFrame = {
    val (sorted, offsets) = globalOrder(df, Seq(col(key).asc), Seq(lit(1L)))
    val total = offsets.last(0)
    val bcOffsets = df.sparkSession.sparkContext.broadcast(offsets.map(_(0)))
    val pidIdx = sorted.schema.fieldIndex(PidCol)
    val keyIdx = sorted.schema.fieldIndex(key)
    val outSchema = StructType(
      sorted.schema.fields.filterNot(_.name == PidCol) ++ Seq(
        StructField(rkName, LongType, nullable = false),
        StructField(nName, LongType, nullable = false)))
    def sameKey(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case _                                => a == b
    }
    sorted.mapPartitions { it =>
      var pos = 0L
      var rank = 0L
      var offset = 0L
      var prev: Any = null
      it.map { r =>
        if (pos == 0L) offset = bcOffsets.value(r.getInt(pidIdx))
        pos += 1
        val k = r.get(keyIdx)
        if (pos == 1L || !sameKey(k, prev)) rank = offset + pos
        prev = k
        Row.fromSeq(r.toSeq.patch(pidIdx, Nil, 1) :+ rank :+ total)
      }
    }(Encoders.row(outSchema))
  }
}
