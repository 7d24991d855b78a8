package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = q * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def p50(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def p99(xs: Iterable[Double]): Double = quantile(xs, 0.99)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Growth per second of a sawtooth backlog `(seconds, records)`: the
    * slope through the minimum of each `windowS` window, so the batches'
    * own rise and fall does not read as a trend. The first window, where
    * the backlog builds up from empty, is left out. */
  def trend(lag: Seq[(Double, Double)], windowS: Double = 2.0): Double = {
    val t0 = lag.headOption.fold(0d)(_._1)
    slope(lag.groupBy(p => math.floor((p._1 - t0) / windowS)).toSeq
      .filter(_._1 > 0).map { case (_, ps) =>
        (ps.map(_._1).sum / ps.size, ps.map(_._2).min)
      })
  }

  /** Least-squares slope of `(x, y)` points. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0d
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (sxx == 0) 0d
      else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
}

/** Wall-clock milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One micro-batch as the engine's progress event reports it. `endMs` is
  * the trigger's start plus its `triggerExecution` duration. */
final case class Batch(p: StreamingQueryProgress) {
  val startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def ms(k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d)
  val endMs: Long = startMs + ms("triggerExecution").toLong
  def rows: Long = p.numInputRows
}

/** Reads the engine's structured progress events: counts processed input
  * rows, keeps every batch that read data, and lets the driver wait for a
  * row count to be reached. Used in every run (it is how the phases know
  * the pipeline caught up); it adds no timing of its own. */
final class Progress extends StreamingQueryListener {
  private val processed = new AtomicLong
  val batches = new ConcurrentLinkedQueue[Batch]
  @volatile private var failure: Option[String] = None

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      batches.add(Batch(e.progress))
      processed.addAndGet(e.progress.numInputRows)
      synchronized(notifyAll())
    }
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    failure = Some(e.exception.getOrElse("query terminated"))
    synchronized(notifyAll())
  }

  def rows: Long = processed.get

  /** Block until `target` input rows are processed; returns the end time
    * of the batch that reached it. Fails after `timeoutS`. */
  def await(target: Long, timeoutS: Int = 120): Long = {
    val deadline = System.currentTimeMillis() + timeoutS * 1000L
    synchronized {
      while (processed.get < target) {
        failure.foreach(f => throw new IllegalStateException(s"pipeline stopped: $f"))
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"pipeline processed ${processed.get} of $target rows in ${timeoutS}s")
        wait(math.min(left, 100L))
      }
    }
    batches.asScala.map(_.endMs).max
  }
}

/** Watches the `out` topic directory and stamps each result file with the
  * time it was first seen (listing every `intervalMs`). Records are parsed
  * only after the run, so the watcher costs one directory listing per poll. */
final class OutWatcher(dir: Path, intervalMs: Long = 5) {
  private val seen = new ConcurrentHashMap[String, java.lang.Double]
  @volatile private var running = true
  Files.createDirectories(dir)

  private def scan(): Unit = {
    val now = Clock.ms
    val ds = Files.newDirectoryStream(dir)
    try ds.asScala.foreach { p =>
      val n = p.getFileName.toString
      if (!n.startsWith(".") && !n.startsWith("_")) seen.putIfAbsent(n, now)
    } finally ds.close()
  }

  private val thread = new Thread(() => {
    while (running) { scan(); Thread.sleep(intervalMs) }
  }, "perfbench-out-watcher")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join(); scan() }

  /** Every record in the topic, with its file's first-seen time. */
  def records(): Seq[OutRecord] = {
    val m = Workload.mapper
    seen.asScala.toSeq.sortBy(_._1).flatMap { case (name, seenMs) =>
      Files.readAllLines(dir.resolve(name)).asScala.filter(_.nonEmpty).map { l =>
        val rec = m.readTree(l)
        val v = m.readTree(rec.path("value").asText)
        // the dynamic engine's frames carry the document as a `doc` field
        val doc = if (v.path("doc").isTextual) m.readTree(v.path("doc").asText) else v
        OutRecord(if (rec.path("key").isNull) null else rec.path("key").asText,
          doc, seenMs.doubleValue)
      }
    }
  }
}

/** The traced run's extra probes: a SparkListener that sums task metrics
  * per micro-batch (jobs carry the batch id as a local property), and a
  * wrapper that times every producer call. */
final class Tracer extends SparkListener {
  final class Acc { var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var runMs = 0L }

  private val BatchIdKey = "streaming.sql.batchId"
  private val stageBatch = new ConcurrentHashMap[Int, Long]
  val perBatch = new ConcurrentHashMap[Long, Acc]
  val sinkCalls = new ConcurrentLinkedQueue[SinkCall]

  private def acc(b: Long) = perBatch.computeIfAbsent(b, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(BatchIdKey)))
      .foreach { s =>
        val b = s.toLong
        acc(b).synchronized { acc(b).jobs += 1 }
        e.stageIds.foreach(id => stageBatch.put(id, b))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageBatch.get(e.stageId)).zip(Option(e.taskMetrics)).foreach {
      case (b, m) =>
        val a = acc(b)
        a.synchronized {
          a.tasks += 1; a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime
        }
    }

  def wrap(produce: DataFrame => Unit): DataFrame => Unit = { df =>
    val b = Option(df.sparkSession.sparkContext.getLocalProperty(BatchIdKey))
      .map(_.toLong).getOrElse(-1L)
    val s = Clock.ms
    produce(df)
    sinkCalls.add(SinkCall(b, s, Clock.ms - s))
  }
}

/** One timed producer call of micro-batch `batchId`. */
final case class SinkCall(batchId: Long, startMs: Double, durMs: Double)

/** A span: a named interval with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
