package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The benchmark's one SparkListener. Untraced, it only sums executor CPU
  * (the end-to-end `task_cpu_s`); with `detail` on it also keeps per-job
  * and per-stage records, which traced runs use to split a measured
  * interval by layer. Everything accumulates from `mark()` to the next. */
final class Probe(spark: SparkSession) extends SparkListener {

  final class StageRec(val id: Int) {
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var shuffleWriteBytes = 0L
    var outputBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val recordsRead = mutable.ArrayBuffer.empty[Long]
  }
  final class JobRec(val start: Long, val stageIds: Seq[Int]) {
    var end: Long = -1L
  }

  @volatile private var detail = false
  private var cpuNs = 0L
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val jobList = mutable.LinkedHashMap.empty[Int, JobRec]

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detail) synchronized {
    jobList(e.jobId) = new JobRec(e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobList.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) cpuNs += m.executorCpuTime
    if (m != null && detail) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.deserMs += m.executorDeserializeTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.outputBytes += m.outputMetrics.bytesWritten
      s.taskMs += m.executorRunTime
      s.recordsRead += m.shuffleReadMetrics.recordsRead
    }
  }

  /** Waits for pending events, then forgets everything recorded so far. */
  def mark(detail: Boolean = false): Unit = {
    drain()
    synchronized { stages.clear(); jobList.clear(); cpuNs = 0L; this.detail = detail }
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def stageRecs: Seq[StageRec] = { drain(); synchronized(stages.values.toList) }
  def jobs: Seq[JobRec] = { drain(); synchronized(jobList.values.toList) }

  def cpuS: Double = { drain(); val ns = synchronized(cpuNs); ns / 1e9 }

  /** Wall of [t0, t1] (epoch ms) not covered by any job's [start, end]. */
  def driverGapS(t0: Long, t1: Long): Double = {
    val iv = jobs.filter(_.end >= 0).map(j => (math.max(j.start, t0), math.min(j.end, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    ((t1 - t0) - covered) / 1e3
  }
}
