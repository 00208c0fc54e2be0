package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation (the root span of its layer calls). */
final class Op(val id: Int, val kind: String, val t0: Double) {
  var t1: Double = t0
  var ok: Boolean = true
  var error: String = ""
  val detail = scala.collection.mutable.LinkedHashMap[String, Any]()
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Double, t1: Double)

/** Times operations and, when traced, the calls into each layer below
  * them. All times are seconds since the recorder was created, on the
  * monotonic clock; listener times (epoch milliseconds) are mapped onto
  * the same axis.
  */
final class Recorder(val spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  def fromMillis(ms: Long): Double = (ms - milli0) / 1e3

  /** While set, every other operation of each kind is traced, starting
    * with the first; the others run as they would untraced.
    */
  var traced = false
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  private val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private var stack: List[Int] = Nil
  private var current: Op = _
  private var on = false

  /** Runs one operation as a root span. A thrown error marks it failed
    * and is not rethrown: a failed operation counts, it does not end
    * the run.
    */
  def op(kind: String)(body: Op => Unit): Op = {
    val o = new Op(ops.size, kind, now())
    ops += o
    current = o
    on = traced && { seen(kind) += 1; seen(kind) % 2 == 1 }
    if (traced) o.detail("traced") = on
    if (on) spark.sparkContext.setJobGroup(s"op-${o.id}", kind)
    try body(o)
    catch { case e: Throwable =>
      o.ok = false
      o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally {
      o.t1 = now()
      if (on) spark.sparkContext.clearJobGroup()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      current = null
      on = false
    }
    o
  }

  /** A call into a layer, recorded as a child of the enclosing span. */
  def span[T](name: String)(body: => T): T =
    if (!on || current == null) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, current.id, name, now(), Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(t1 = now())
      }
    }

  /** Plans a DataFrame, then runs it with `action`, as two spans. */
  def planAndRun[T](df: DataFrame)(action: DataFrame => T): T = {
    span("plan")(df.queryExecution.executedPlan)
    span("execute")(action(df))
  }
}

/** Scan-node metrics of an executed plan, summed over its file scans. */
object Scans extends AdaptiveSparkPlanHelper {
  def of(qe: QueryExecution): Map[String, Long] = {
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics
      case s: BatchScanExec => s.metrics
    }
    def total(k: String): Long =
      scans.flatMap(_.get(k)).map(_.value).sum
    Map("files_read" -> total("numFiles"),
      "rows_read" -> total("numOutputRows"))
  }
}

/** Work counters from the scheduler, kept per job with the job group
  * that names the operation it ran for.
  */
final class WorkListener(rec: Recorder) extends SparkListener {
  final class Job(val id: Int, val group: String, val t0: Double) {
    var t1: Double = t0
    var stages = 0
    var tasks = 0L
    var runS, cpuS, gcS, schedS = 0.0
    var inBytes, shuffleW, shuffleR, spill, peakMem = 0L
  }
  val jobs = ArrayBuffer[Job]()
  private val byId = scala.collection.mutable.Map[Int, Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, g, rec.fromMillis(e.time))
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.t1 = rec.fromMillis(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val i = e.taskInfo
      j.tasks += 1
      j.runS += m.executorRunTime / 1e3
      j.cpuS += m.executorCpuTime / 1e9
      j.gcS += m.jvmGCTime / 1e3
      j.schedS += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime) / 1e3
      j.inBytes += m.inputMetrics.bytesRead
      j.shuffleW += m.shuffleWriteMetrics.bytesWritten
      j.shuffleR += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
    }
  }

  def records(): Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map(j => Map("id" -> j.id, "group" -> j.group,
      "t0" -> j.t0, "t1" -> j.t1, "stages" -> j.stages, "tasks" -> j.tasks,
      "run_s" -> j.runS, "cpu_s" -> j.cpuS, "gc_s" -> j.gcS,
      "sched_s" -> j.schedS, "bytes_read" -> j.inBytes,
      "shuffle_write_bytes" -> j.shuffleW, "shuffle_read_bytes" -> j.shuffleR,
      "spill_bytes" -> j.spill, "peak_exec_mem" -> j.peakMem))
  }
}

/** Planning phases of every query action the program runs, including
  * the eager ones inside library calls (checkpoints, counts).
  */
final class PlanListener(rec: Recorder) extends QueryExecutionListener {
  val phases = ArrayBuffer[Map[String, Any]]()
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Map("phase" -> name, "t0" -> rec.fromMillis(p.startTimeMs),
        "t1" -> rec.fromMillis(p.endTimeMs))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Live heap: what the heap still holds after a full collection. The
  * largest of a few such samples is reported; unlike a peak of raw
  * occupancy it does not depend on when collections happen to run.
  */
object Heap {
  private var peak = 0L
  def sample(): Unit = {
    // the second collection also frees what Spark's cleaner released
    // after the first one cleared its weak references
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }
  def peakMiB: Double = peak / 1048576.0
}
