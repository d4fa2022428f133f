package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory span recorder. A span is (id, parent, name, op, start, end);
  * spans of one op share its `op` number (-1 for set-up). Nothing is
  * recorded when tracing is off, so untraced runs pay one branch per span.
  */
final class Spans(val on: Boolean) {
  import Spans.Span
  val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name: duration minus the time its children cover
    * (children of one span never overlap — the benchmark is single-threaded).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def totalSeconds(name: String): Double =
    done.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, op: Int,
                        startNs: Long, endNs: Long)
}

/** Spark-side counters from a listener the benchmark registers itself.
  * Task intervals are kept so idle time (op wall time with no task
  * running) can be computed per op window.
  */
final class Counters extends SparkListener {
  val jobs, stages, stageRetries, tasks, taskFailures = new AtomicLong
  val runNs, cpuNs, gcMs, taskDurMs = new AtomicLong
  val shuffleWrite, shuffleRead, fetchWaitMs = new AtomicLong
  val inputBytes, outputBytes, spillBytes = new AtomicLong
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != TaskSuccess) taskFailures.incrementAndGet()
    val info = e.taskInfo
    if (info != null) {
      taskDurMs.addAndGet(info.duration)
      intervals.synchronized { intervals += ((info.launchTime, info.finishTime)) }
    }
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "stage_retries" -> stageRetries.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_failures" -> taskFailures.get.toDouble,
    "run_s" -> runNs.get / 1e9, "cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3, "task_s" -> taskDurMs.get / 1e3,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "fetch_wait_s" -> fetchWaitMs.get / 1e3,
    "input_bytes" -> inputBytes.get.toDouble,
    "output_bytes" -> outputBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble)

  /** Seconds of [fromMs, toMs] during which no task was running. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = {
    val iv = intervals.synchronized(intervals.toVector)
      .map { case (a, b) => (a max fromMs, b min toMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) busy += curB - curA
    ((toMs - fromMs) - busy).max(0L) / 1e3
  }
}

object Counters {
  /** Counter deltas across `body`, with the listener bus drained on both
    * sides so late task events are not smeared into the next window.
    */
  def delta[T](spark: SparkSession, c: Counters)(body: => T): (T, Map[String, Double]) = {
    drain(spark)
    val before = c.snapshot()
    val r = body
    drain(spark)
    val after = c.snapshot()
    (r, after.map { case (k, v) => k -> (v - before(k)) })
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark)
}
