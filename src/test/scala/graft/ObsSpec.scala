package graft

import graft.operators.{GlobalRank, Obs}
import org.apache.spark.sql.{Column, Observation, Row}
import org.apache.spark.sql.functions._

import scala.concurrent.Await
import scala.concurrent.duration._

/** The fallback halves of the fused-job primitives. [[Obs.checkpoint]]'s
  * fallback runs only when observed metrics fail to arrive, and
  * [[GlobalRank.globalOrder]]'s grouped job only above `MaxFusedParts`
  * partitions — neither is reached by the fast path the other specs drive,
  * so each is forced here and compared against the fused result. */
class ObsSpec extends SparkSpec {

  /** One aggregate of every shape the call sites observe. */
  private val aggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(when(col("id") % 3 === 0, 1L).otherwise(0L)), lit(0L)).as("c"),
    collect_set(pmod(col("id"), lit(4L))).as("parts"),
    max(col("id")).as("maxId"))

  // collect_set's element order depends on merge order: compare as a set
  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toSet
    case v                          => v
  }

  for ((label, rows, expected) <- Seq(
      ("non-empty", 20L, Seq(20L, 7L, Set(0L, 1L, 2L, 3L), 19L)),
      ("zero-row", 0L, Seq(0L, 0L, Set.empty, null))))
    test(s"Obs.checkpoint fallback row equals the fused row ($label frame)") {
      val df = spark.range(0, 40, 1, 4).toDF().filter(col("id") < rows)
      // the fused row exactly as the observation delivers it
      val obs = Observation()
      val ck = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
      val fused = Await.result(obs.future, 60.seconds)
      assert(norm(fused) == expected)
      assert(ck.count() == rows)
      // an Observation attached to no query never fires: the wait times out
      // and the same aggregates run over the checkpoint
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val fallback =
        try Obs.await(Observation(), ck, aggs, timeoutSec = 1)
        finally System.setErr(stderr)
      assert(norm(fallback) == norm(fused))
      assert(fallback.schema.fieldNames.toSeq == fused.schema.fieldNames.toSeq)
      assert(err.toString.contains("[obs] graft.ObsSpec"),
        s"the fallback names its caller on stderr: $err")
      // and the public call returns the same row
      val (_, viaCheckpoint) = Obs.checkpoint(df, aggs: _*)
      assert(norm(viaCheckpoint) == norm(fused))
    }

  test("globalOrder: the grouped job above MaxFusedParts yields the fused offsets") {
    val df = spark.range(0, 1000, 1, 4)
      .select((col("id") % 97).as("k"), col("id"))
    val measures = Seq(lit(1L), when(col("id") % 7 === 0, 1L).otherwise(0L))
    def run(parts: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val (_, offsets) = GlobalRank.globalOrder(df, Seq(col("k").asc), measures)
        val ranks = GlobalRank.withRank(df, "k", "rk", "n")
          .select("id", "rk", "n").collect().map(_.toSeq).toSet
        (offsets, ranks)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val (fusedOffs, fusedRanks) = run(8)
    val (groupedOffs, groupedRanks) = run(GlobalRank.MaxFusedParts + 1)
    assert(fusedOffs.length == 9)
    assert(groupedOffs.length == GlobalRank.MaxFusedParts + 2)
    for (offs <- Seq(fusedOffs, groupedOffs)) {
      assert(offs.head.toSeq == Seq(0L, 0L))
      assert(offs.last.toSeq == Seq(1000L, 143L))
      assert(offs.sliding(2).forall(w => w(0)(0) <= w(1)(0)))
    }
    assert(groupedRanks == fusedRanks)
    // k = 0 holds ids 0, 97, …, 970: eleven rows tied at rank 1
    assert(fusedRanks.count(r => r(1) == 1L) == 11)
  }
}
