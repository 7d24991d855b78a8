package perfbench

import graft.sources.FileBus
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One pass of a streaming workload in a fresh JVM:
  *
  *  1. setup: session, one file of input, `start()`, cold first batch;
  *  2. warm-up: open loop at the workload's rate, then one backlog;
  *  3. drain: three preloaded backlogs, each released at once and timed
  *     until processed; the median rate is reported;
  *  4. steady: open loop for `--seconds`, latency per event; the p50 and
  *     p99 are the medians over 4 s windows of each window's own;
  *  5. the rest of the input is processed, the query stops, and the
  *     outputs are checked against the workload's reference.
  *
  * Writes one JSON object to `--out`. With `--trace 1` it also reports
  * per-layer numbers and writes the spans to `--spans`.
  *
  * Usage: `StreamBench --workload <name> --seed <n> --seconds <s>
  *   --cores <n> --trace <0|1> --work <dir> --out <file> [--spans <file>]` */
object StreamBench {

  private val warmupS = 2.0
  private val windowMs = 4000L

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code =
      try { run(o); 0 }
      catch { case e: Throwable =>
        e.printStackTrace()
        write(Paths.get(o("out")), Map("error" -> String.valueOf(e.getMessage)))
        2
      }
    System.exit(code)
  }

  private def write(p: Path, m: Map[String, Any]): Unit = {
    def j(v: Any): AnyRef = v match {
      case m: Map[_, _] =>
        val out = new java.util.LinkedHashMap[String, AnyRef]
        m.foreach { case (k, x) => out.put(k.toString, j(x)) }
        out
      case s: Seq[_] => s.map(j).asJava
      case d: Double => java.lang.Double.valueOf(d)
      case l: Long => java.lang.Long.valueOf(l)
      case i: Int => java.lang.Integer.valueOf(i)
      case b: Boolean => java.lang.Boolean.valueOf(b)
      case x => x.asInstanceOf[AnyRef]
    }
    Files.write(p, Workload.mapper.writeValueAsBytes(j(m)))
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  private def run(o: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workload(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val cores = o("cores").toInt
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    val progress = new Progress
    spark.streams.addListener(progress)
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    val bus = new FileBus(work.resolve("bus").toString)
    val gen = new Generator(w, seed, Paths.get(bus.topicDir("in")),
      work.resolve("gen-tmp"))
    val watcher = new OutWatcher(Paths.get(bus.topicDir("out")))
    val phases = ArrayBuffer.empty[(String, Long, Long)]
    def now() = System.currentTimeMillis()

    // 1. setup: the cold batch reads one open-loop tick's worth of input
    gen.writeNow(w.rate / 20, now())
    val produce = bus.producer("out")
    val t0 = System.nanoTime()
    val query = w.start(spark, bus, tracer.fold(produce)(_.wrap(produce)),
      work.resolve("checkpoint").toString)
    val startMs = (System.nanoTime() - t0) / 1e6
    val served = progress.await(gen.written.get)
    phases += (("setup", jvmStart, served))

    val (drainRates, drainWindows, steadyStart, steadyEnd, lag) =
      try {
        // a backlog is staged unseen, then released at once, and timed
        // until every record of it is processed
        def drain(rows: Int): (Long, (Long, Long)) = {
          gen.stage(rows)
          val (d0, n) = gen.release()
          (n, (d0, progress.await(gen.written.get)))
        }
        // 2. warm-up: the open loop, then one unmeasured backlog, so the
        //    measured phases run on compiled code
        val w0 = now()
        gen.openLoop(warmupS).get()
        progress.await(gen.written.get)
        drain(w.warmupRows)
        phases += (("warmup", w0, now()))
        // 3. drain: three backlogs
        val drained = (1 to 3).map { i =>
          val d = drain(w.backlogRows)
          phases += ((s"drain-$i", d._2._1, d._2._2))
          d
        }
        // 4. steady open loop, sampling the backlog (records written but
        //    not yet processed) every 100 ms
        val lag = ArrayBuffer.empty[(Double, Double)]
        val loop = gen.openLoop(seconds)
        while (!loop.isDone) {
          lag += ((now() / 1e3, (gen.written.get - progress.rows).toDouble))
          Thread.sleep(100)
        }
        val s0 = loop.get()
        val s1 = s0 + math.round(seconds * 1000)
        phases += (("steady", s0, s1))
        // 5. the tail of the input, then stop
        val f0 = now()
        phases += (("final", f0, progress.await(gen.written.get)))
        Thread.sleep(20) // one more watcher poll over the last batch's files
        (drained.map { case (n, (a, z)) => n * 1e3 / (z - a) }, drained.map(_._2),
          s0, s1, lag.filter(_._1 * 1e3 >= s0).toSeq)
      } finally query.stop()
    watcher.stop()
    gen.close()
    val rss = peakRssMb()

    val out = watcher.records()
    val (failed, why) = w.check(out)
    // latency per window of the steady phase; a window's p99 needs 1000
    // samples (10 beyond it), and the run reports the median window
    val lat = w.latencies(out, steadyStart, steadyEnd)
    val windows = lat.groupBy { case (ts, _) => (ts - steadyStart) / windowMs }
      .values.map(_.map(_._2)).filter(_.size >= 1000).toSeq
    val slope = Stats.trend(lag)
    val invalid = Seq(
      if (windows.isEmpty) Some(s"no ${windowMs / 1000}s window holds the 1000 latency samples a p99 needs") else None,
      if (slope > 0.2 * w.rate) Some(f"backlog grew by $slope%.0f records/s in the steady phase") else None,
    ).flatten
    if (failed > 0) System.err.println(s"[perfbench] output check failed: $why")

    val e2e = Map(
      "setup_s" -> (served - jvmStart) / 1e3,
      "drain_rows_per_s" -> Stats.p50(drainRates),
      "latency_p50_ms" -> Stats.p50(windows.map(Stats.p50)),
      "latency_p99_ms" -> Stats.p50(windows.map(Stats.p99)),
      "peak_rss_mb" -> rss)
    val info = Map(
      "latency_samples" -> lat.size,
      "latency_windows" -> windows.size,
      "drain_s" -> drainWindows.map { case (a, z) => (z - a) / 1e3 },
      "gen_late_ms_max" -> gen.lateMaxMs,
      "backlog_slope_rows_per_s" -> slope,
      "session_s" -> sessionS,
      "pipeline_start_ms" -> startMs)
    val layerMap = tracer.map { t =>
      val l = Layers(t, progress.batches.asScala.toSeq.sortBy(_.p.batchId),
        steadyStart, steadyEnd, drainWindows, lag, out.size)
      o.get("spans").foreach(p => write(Paths.get(p), Map(
        "workload" -> w.name, "seed" -> seed, "cores" -> cores,
        "spans" -> l.spans(jvmStart, now(), phases.toSeq).map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)))))
      l.metrics ++ Map(
        "pipeline.start_ms" -> startMs,
        "pipeline.session_s" -> sessionS,
        "gen.late_ms_max" -> gen.lateMaxMs,
        "gen.backlog_slope_rows_per_s" -> slope,
        "latency.samples" -> lat.size.toDouble)
    }
    write(Paths.get(o("out")), Map(
      "correct" -> (failed == 0),
      "attempted" -> gen.written.get,
      "failed" -> failed,
      "invalid" -> invalid,
      "metrics" -> e2e,
      "info" -> info) ++ layerMap.map("layers" -> _))
    spark.stop()
  }
}

/** Per-layer numbers of a traced pass, from the progress events (engine
  * timings per micro-batch), the task listener and the producer wrapper.
  * Steady-phase batches give the latency-side numbers, drain-phase batches
  * the per-row compute cost. */
final case class Layers(t: Tracer, batches: Seq[Batch], steadyStart: Long,
    steadyEnd: Long, drains: Seq[(Long, Long)], lag: Seq[(Double, Double)],
    rowsOut: Long) {

  private val steady =
    batches.filter(b => b.startMs >= steadyStart && b.startMs < steadyEnd)
  private val drained =
    batches.filter(b => drains.exists { case (a, z) => b.endMs > a && b.endMs <= z })
  private val calls = t.sinkCalls.asScala.toSeq
  private def acc(b: Batch) = Option(t.perBatch.get(b.p.batchId))
  private def p50(k: String) = Stats.p50(steady.map(_.ms(k)))
  private def op(b: Batch, dedupe: Boolean) =
    b.p.stateOperators.find(s => (s.operatorName == "dedupe") == dedupe)
  private def orZero(d: Double) = if (d.isNaN) 0d else d
  private def sinkMs(b: Batch) =
    calls.filter(_.batchId == b.p.batchId).map(_.durMs).sum

  // the parts of a micro-batch its progress event times, in the order the
  // engine runs them
  private val parts = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  // a batch's wall split into layers; the remainder is what no part
  // covers. The pipeline is lazy until `$send` writes, so the producer call
  // holds the batch's only Spark job: reading, the pipeline's compute,
  // state updates and the write. `batch_driver` is the rest of `addBatch`,
  // the driver-side build of the sink suffix around it.
  private def self(b: Batch): Seq[(String, Double)] = {
    val sink = sinkMs(b)
    Seq("source" -> (b.ms("latestOffset") + b.ms("getBatch")),
      "planning" -> b.ms("queryPlanning"),
      "batch_driver" -> (b.ms("addBatch") - sink), "produce" -> sink,
      "log" -> (b.ms("walCommit") + b.ms("commitOffsets")),
      "remainder" -> (b.ms("triggerExecution") - parts.map(b.ms).sum))
  }

  def metrics: Map[String, Double] = {
    val last = batches.lastOption
    val stateRows = (d: Boolean) => orZero(last.flatMap(op(_, d)).fold(0d)(_.numRowsTotal.toDouble))
    val drainRows = drained.map(_.rows).sum.toDouble
    val drainAcc = drained.flatMap(acc)
    val steadyCalls = calls.filter(c => steady.exists(_.p.batchId == c.batchId)).map(_.durMs)
    val selfTotals = steady.flatMap(self).groupMapReduce(_._1)(_._2)(_ + _)
    Map(
      "sources.latest_offset_ms_p50" -> p50("latestOffset"),
      "sources.get_batch_ms_p50" -> p50("getBatch"),
      "sources.lag_rows_p99" -> Stats.p99(lag.map(_._2)),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.trigger_ms_p99" -> Stats.p99(steady.map(_.ms("triggerExecution"))),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.planning_ms_p50" -> p50("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> p50("walCommit"),
      "streaming.commit_offsets_ms_p50" -> p50("commitOffsets"),
      "streaming.jobs_per_batch" -> Stats.mean(steady.map(b => acc(b).fold(0d)(_.jobs.toDouble))),
      "streaming.tasks_per_batch" -> Stats.mean(steady.map(b => acc(b).fold(0d)(_.tasks.toDouble))),
      "streaming.rows_per_batch_p50" -> Stats.p50(steady.map(_.rows.toDouble)),
      "state.dedupe.rows_total" -> stateRows(true),
      "state.dedupe.memory_bytes" -> orZero(last.flatMap(op(_, true)).fold(0d)(_.memoryUsedBytes.toDouble)),
      "state.dedupe.commit_ms_p50" -> orZero(Stats.p50(steady.flatMap(op(_, true)).map(_.commitTimeMs.toDouble))),
      "state.group.rows_total" -> stateRows(false),
      "state.group.commit_ms_p50" -> orZero(Stats.p50(steady.flatMap(op(_, false)).map(_.commitTimeMs.toDouble))),
      "state.updates_ms_p50" -> orZero(Stats.p50(steady.map(_.p.stateOperators.map(_.allUpdatesTimeMs.toDouble).sum))),
      "sinks.produce_calls" -> calls.size.toDouble,
      "sinks.produce_ms_p50" -> Stats.p50(steadyCalls),
      "sinks.produce_ms_p99" -> Stats.p99(steadyCalls),
      "sinks.rows_out" -> rowsOut.toDouble,
      "engine.cpu_ns_per_row" -> drainAcc.map(_.cpuNs.toDouble).sum / drainRows,
      "engine.run_ns_per_row" -> drainAcc.map(_.runMs * 1e6).sum / drainRows,
      "self.wall_ms" -> steady.map(_.ms("triggerExecution")).sum) ++
      selfTotals.map { case (k, v) => s"self.${k}_ms" -> v }
  }

  /** workload → phase → micro-batch → timed part → producer call. A
    * batch's parts come from its progress event's durations, laid end to
    * end from the trigger's start in the engine's order. */
  def spans(start: Long, end: Long, phases: Seq[(String, Long, Long)]): Seq[Span] = {
    val out = ArrayBuffer(Span(1, 0, "workload", start.toDouble, end.toDouble))
    var next = 2
    def add(parent: Int, name: String, s: Double, e: Double): Int = {
      out += Span(next, parent, name, s, e); next += 1; next - 1
    }
    val phaseIds = phases.map { case (n, s, e) => (add(1, n, s.toDouble, e.toDouble), s, e) }
    batches.foreach { b =>
      val parent = phaseIds.find { case (_, s, e) => b.startMs >= s && b.startMs < e }
        .fold(1)(_._1)
      val id = add(parent, s"batch-${b.p.batchId}", b.startMs.toDouble, b.endMs.toDouble)
      var at = b.startMs.toDouble
      parts.foreach { k =>
        val part = add(id, k, at, at + b.ms(k))
        if (k == "addBatch") calls.filter(_.batchId == b.p.batchId).foreach { c =>
          add(part, "produce", c.startMs, c.startMs + c.durMs)
        }
        at += b.ms(k)
      }
      add(id, "remainder", at, b.endMs.toDouble)
    }
    out.toSeq
  }
}
