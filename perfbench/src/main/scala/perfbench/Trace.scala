package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `counts` holds the probe deltas over the
  * span when it was `probed`; it is empty otherwise.
  */
final case class Span(id: Int, parent: Int, unit: Int, layer: String, name: String,
    startNs: Long, endNs: Long, probed: Boolean, counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Totals of what Spark's scheduler, executors and planner report. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks = new AtomicLong
  private val runMs, cpuNs, gcMs, deserMs, shuffleWriteB, fetchWaitMs, spillB = new AtomicLong
  private val analysisMs, optimizerMs, planningMs = new DoubleAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      deserMs.addAndGet(m.executorDeserializeTime)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => analysisMs.add(s.durationMs.toDouble))
    p.get("optimization").foreach(s => optimizerMs.add(s.durationMs.toDouble))
    p.get("planning").foreach(s => planningMs.add(s.durationMs.toDouble))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "task_run_s" -> runMs.get / 1e3,
    "task_cpu_s" -> cpuNs.get / 1e9,
    "task_gc_s" -> gcMs.get / 1e3,
    "task_deser_s" -> deserMs.get / 1e3,
    "shuffle_write_b" -> shuffleWriteB.get.toDouble,
    "fetch_wait_s" -> fetchWaitMs.get / 1e3,
    "spill_b" -> spillB.get.toDouble,
    "plan_analysis_s" -> analysisMs.sum / 1e3,
    "plan_optimizer_s" -> optimizerMs.sum / 1e3,
    "plan_planning_s" -> planningMs.sum / 1e3)
}

/** Spans around the benchmark's calls into graft. Every run records span
  * start and end. While `probing` is on, which only the traced run allows,
  * the listeners are attached and each boundary drains the listener bus
  * and reads the probes; otherwise a span costs two clock reads.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val probe = new SparkProbe
  private var attached = false
  private val recorded = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  /** Index of the cycle or pass being run; negative during warm-up. */
  var unit: Int = -1

  def probing: Boolean = attached
  /** Attach or detach the listeners. The traced run detaches them for the
    * units that measure its own overhead.
    */
  def probing_=(on: Boolean): Unit = if (on != attached) {
    require(!on || enabled, "probes attach only in the traced run")
    if (on) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    } else {
      SparkInternals.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    attached = on
  }
  probing = enabled

  private def read(): Map[String, Double] = {
    SparkInternals.drain(spark.sparkContext)
    probe.snapshot() ++ CountingFileSystem.snapshot().map { case (k, v) => s"storage.$k" -> v }
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val probed = attached
    val before = if (probed) read() else Map.empty[String, Double]
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      val counts =
        if (!probed) Map.empty[String, Double]
        else { val after = read(); after.map { case (k, v) => k -> (v - before(k)) } }
      recorded += Span(id, parent, unit, layer, name, start, end, probed, counts)
    }
  }

  def spans: Seq[Span] = recorded.toSeq

  /** A span's duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - recorded.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
