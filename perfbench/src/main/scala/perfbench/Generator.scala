package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** The input side of the bus: ONE thread that writes JSON-line files into
  * the `in` topic directory with plain `java.nio` (write to a private temp
  * dir, then an atomic rename), never a Spark job, so a tailing consumer
  * never sees a half-written file. Each record is, with probability 1/10, a
  * redelivery of an event from the previous file instead of a fresh one.
  * The same seed gives the same records in the same files. */
final class Generator(w: Workload, seed: Long, topicDir: Path, tmpDir: Path) {

  private val exec = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-generator"); t.setDaemon(true); t
  }
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = 0L
  private var fileSeq = 0L
  private var prev: IndexedSeq[Event] = IndexedSeq.empty
  private val staged = ArrayBuffer.empty[(Path, Int)]

  /** Records visible in the topic so far. */
  val written = new AtomicLong
  /** Open-loop lateness: actual write minus scheduled time, worst case. */
  @volatile var lateMaxMs: Double = 0d

  Files.createDirectories(topicDir)
  Files.createDirectories(tmpDir)

  private def on[T](body: => T): T =
    exec.submit(new Callable[T] { def call(): T = body }).get()

  private def records(n: Int, ts: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(n * 160)
    val fresh = ArrayBuffer.empty[Event]
    for (_ <- 0 until n) {
      val redeliver = prev.nonEmpty && rnd.nextInt(10) == 0
      val e =
        if (redeliver) prev(rnd.nextInt(prev.size))
        else { val e = w.fresh(rnd, nextId, ts); nextId += 1; fresh += e; e }
      w.delivered(e, redeliver)
      sb.append(e.line).append('\n')
    }
    if (fresh.nonEmpty) prev = fresh.toIndexedSeq
    sb.toString.getBytes(UTF_8)
  }

  private def writeTmp(n: Int, ts: Long): Path = {
    fileSeq += 1
    val f = tmpDir.resolve(f"part-$fileSeq%08d.json")
    Files.write(f, records(n, ts))
    f
  }

  private def publish(f: Path): Unit =
    Files.move(f, topicDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

  /** Write one file of `n` records stamped `ts` and make it visible. */
  def writeNow(n: Int, ts: Long): Unit = on {
    publish(writeTmp(n, ts)); written.addAndGet(n); ()
  }

  /** Open loop for `seconds`: one file every `tickMs`, on a fixed schedule
    * that does not wait for the consumer. Each record carries its file's
    * scheduled time as its creation stamp, so a late write shows up as
    * latency. Returns the schedule's start. */
  def openLoop(seconds: Double, tickMs: Int = 50): java.util.concurrent.Future[Long] =
    exec.submit(new Callable[Long] {
      def call(): Long = {
        val perTick = w.rate * tickMs / 1000
        val ticks = math.round(seconds * 1000 / tickMs).toInt
        val start = Clock.ms.toLong + tickMs
        for (i <- 0 until ticks) {
          val due = start + i.toLong * tickMs
          val wait = due - Clock.ms
          if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
          publish(writeTmp(perTick, due))
          written.addAndGet(perTick)
          lateMaxMs = math.max(lateMaxMs, Clock.ms - due)
        }
        start
      }
    })

  /** Prepare a backlog of `rows` records in `files` files, not yet visible. */
  def stage(rows: Int, files: Int = 16): Unit = on {
    val ts = System.currentTimeMillis()
    for (i <- 0 until files) {
      val n = rows / files + (if (i < rows % files) 1 else 0)
      staged += writeTmp(n, ts) -> n
    }
  }

  /** Make the staged backlog visible at once; returns the time just before
    * the first file appeared and the number of records released. */
  def release(): (Long, Long) = on {
    val rows = staged.iterator.map(_._2.toLong).sum
    val t0 = System.currentTimeMillis()
    staged.foreach(f => publish(f._1))
    staged.clear()
    written.addAndGet(rows)
    (t0, rows)
  }

  def close(): Unit = { exec.shutdownNow(); exec.awaitTermination(10, TimeUnit.SECONDS); () }
}
