package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev probe (guide §1/§7): per-query breakdown of WHERE the wall time goes
  * on the bench session — job count, stage count, task count, summed task
  * run/GC time, the driver-side gap (wall − in-job time, which is Catalyst
  * planning + loop logic + AQE stage scheduling), peak task execution
  * memory, memory/disk spill and shuffle write. `wall` times the same
  * `count()` action Bench times. Run as:
  *   tools/run_verify.sh graft.tools.JobProbe <sfDir> pagerank coloring
  * GRAFT_PROBE_REPS (default 2) sets the repetitions per query; the session
  * is [[BenchSession]].
  */
object JobProbe {
  final class Probe extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskRunMs = new AtomicLong
    val gcMs = new AtomicLong
    val serMs = new AtomicLong
    val peakExecMem = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val shuffleWrite = new AtomicLong
    // per-stage-NAME aggregation: which operator/callsite eats the task time
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageRun = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    @volatile var inJobNanos = 0L
    @volatile var lastStart = 0L
    @volatile var depth = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs.incrementAndGet()
      j.stageInfos.foreach(si => byStage.put(si.stageId, si.name.takeWhile(_ != '\n')))
      if (depth == 0) lastStart = System.nanoTime()
      depth += 1
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      depth -= 1
      if (depth == 0) inJobNanos += System.nanoTime() - lastStart
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskRunMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        serMs.addAndGet(m.executorDeserializeTime + m.resultSerializationTime)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val name = byStage.getOrDefault(t.stageId, s"stage${t.stageId}")
        stageRun.computeIfAbsent(name, _ => new AtomicLong)
          .addAndGet(m.executorRunTime)
        stageTasks.computeIfAbsent(name, _ => new AtomicInteger)
          .incrementAndGet()
      }
    }
    def topStages(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      stageRun.asScala.toSeq.sortBy(-_._2.get).take(n).map { case (k, v) =>
        f"    ${v.get / 1000.0}%8.1fs ${stageTasks.get(k).get}%5d tasks  $k"
      }
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      taskRunMs.set(0); gcMs.set(0); serMs.set(0); inJobNanos = 0; depth = 0
      peakExecMem.set(0); memSpill.set(0); diskSpill.set(0); shuffleWrite.set(0)
      byStage.clear(); stageRun.clear(); stageTasks.clear() }
  }

  /** Run each named query `reps` times on `dir`, one line per rep plus the
    * top stages by task time after the last rep. */
  def run(spark: SparkSession, dir: String, queries: Seq[String], reps: Int): Unit = {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    queries.foreach { n =>
      for (r <- 1 to reps) {
        Thread.sleep(200) // let queued listener events drain
        probe.reset()
        val t0 = System.nanoTime()
        val c = graft.SparkEntry.queries(n)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        val inJob = probe.inJobNanos / 1e9
        val rt = Runtime.getRuntime
        println(f"[probe] $n%-22s rep=$r wall=$wall%6.2f inJob=$inJob%6.2f " +
          f"driverGap=${wall - inJob}%6.2f jobs=${probe.jobs.get}%3d " +
          f"stages=${probe.stages.get}%4d tasks=${probe.tasks.get}%5d " +
          f"taskRun=${probe.taskRunMs.get / 1000.0}%7.1fs gc=${probe.gcMs.get / 1000.0}%5.1fs " +
          f"ser=${probe.serMs.get / 1000.0}%5.1fs rows=$c " +
          f"peakTaskExecMem=${probe.peakExecMem.get / 1e6}%.1fMB " +
          f"memSpill=${probe.memSpill.get / 1e6}%.1fMB " +
          f"diskSpill=${probe.diskSpill.get / 1e6}%.1fMB " +
          f"shufWrite=${probe.shuffleWrite.get / 1e6}%.1fMB " +
          f"heapUsed=${(rt.totalMemory - rt.freeMemory) / 1e9}%.1fGB")
        if (r == reps) probe.topStages(8).foreach(println)
      }
    }
    spark.sparkContext.removeSparkListener(probe)
  }

  def main(args: Array[String]): Unit = {
    val spark = BenchSession()
    run(spark, args(0), args.drop(1).toSeq, sys.env.getOrElse("GRAFT_PROBE_REPS", "2").toInt)
    spark.stop()
  }
}
