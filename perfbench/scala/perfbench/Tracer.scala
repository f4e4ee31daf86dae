package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for traced passes.
  *
  * The benchmark opens a span around each call into a layer and marks the
  * driver thread with the span's id as a Spark local property; every job
  * the call submits carries that property, so the listener files each job
  * (with the summed metrics of its tasks) as a child span. Dataset actions
  * reported to the QueryExecutionListener are filed under the span open
  * when the event is processed; the listener bus is drained before a span
  * closes, so that is the span that triggered them. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  private def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var current = -1
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `body` inside a span; `attrs` may be filled while it runs. */
  def span[T](name: String)(body: Span => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, nowMs)
    spans += s
    stack = s :: stack
    val saved = sc.getLocalProperty(Property)
    sc.setLocalProperty(Property, s.id.toString)
    current = s.id
    try body(s)
    finally {
      s.end = nowMs
      org.apache.spark.PerfbenchBus.drain(sc)
      stack = stack.tail
      sc.setLocalProperty(Property, saved)
      current = stack.headOption.map(_.id).getOrElse(-1)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
      .map(_.toInt).getOrElse(-1)
    val j = Job(e.jobId, parent, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.diskBytesSpilled
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit =
    synchronized {
      val phases = qe.tracker.phases.map { case (k, p) => s"${k}_ms" -> p.durationMs.toDouble }
      queries += Map("parent" -> current, "action" -> funcName, "ok" -> ok,
        "duration_ms" -> durationNs / 1e6) ++ phases
    }

  /** Every span, job and action recorded, as one JSON document. */
  def json: String = synchronized {
    val spanRecs = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs.toMap))
    val jobRecs = jobs.values.map(j => Map("id" -> j.id, "parent" -> j.parent,
      "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
      "task_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "shuffle_write_records" -> j.shuffleWriteRecords,
      "spill_bytes" -> j.spillBytes, "peak_exec_mem_bytes" -> j.peakExecMem))
    Json.write(Map("spans" -> spanRecs.toSeq, "jobs" -> jobRecs.toSeq, "actions" -> queries.toSeq))
  }
}

object Tracer {
  val Property = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, start: Double) {
    var end: Double = start
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  final case class Job(id: Int, parent: Int, start: Double) {
    var end: Double = start
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var spillBytes = 0L
    var peakExecMem = 0L
  }
}
