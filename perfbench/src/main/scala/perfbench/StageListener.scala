package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One Spark stage of a benchmark job, as the listener saw it. */
final class StageRec(val stageId: Int) {
  var name = ""
  /** RDD operation scopes of the stage ("Exchange", "LocalTableScan", ...). */
  var scopes: Set[String] = Set.empty
  var submittedMs = 0L
  var completedMs = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var taskFailures = 0

  def wallS: Double = (completedMs - submittedMs) / 1e3
  /** The `dedupLatest` window's shuffle-map stage: the only stage of an
    * extraction job that writes shuffle output.
    */
  def isDedup: Boolean = shuffleWriteBytes > 0
  /** `Pipeline.extract` fused with the data parquet write. The lineage
    * write also writes files, but from a driver-side local relation.
    */
  def isKernel: Boolean = !isDedup && outputBytes > 0 && !scopes.exists(_.contains("LocalTableScan"))
}

/** Collects task metrics of the Spark jobs a benchmark job submits. Jobs are
  * attributed through their description: "perfbench job <n>". With
  * `detailed` off only executor CPU time and task failures are summed, which
  * the untraced end-to-end metrics need; with it on every stage is recorded.
  */
final class StageListener extends SparkListener {
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val cpuNsByJob = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  private val failuresByJob = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  private val stages = mutable.HashMap.empty[Int, mutable.LinkedHashMap[Int, StageRec]]
  @volatile var detailed = false

  private val Prefix = "perfbench job "

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    desc.filter(_.startsWith(Prefix)).foreach { d =>
      val job = d.stripPrefix(Prefix).toInt
      e.stageInfos.foreach(s => stageJob(s.stageId) = job)
    }
  }

  private def rec(stageId: Int): Option[StageRec] =
    if (!detailed) None
    else stageJob.get(stageId).map { job =>
      stages.getOrElseUpdate(job, mutable.LinkedHashMap.empty)
        .getOrElseUpdate(stageId, new StageRec(stageId))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    rec(info.stageId).foreach { r =>
      r.name = info.name
      r.scopes = info.rddInfos.flatMap(_.scope.map(_.name)).toSet
      r.submittedMs = info.submissionTime.getOrElse(0L)
      r.completedMs = info.completionTime.getOrElse(r.submittedMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val m = e.taskMetrics
      val failed = e.reason != Success
      if (m != null) cpuNsByJob(job) += m.executorCpuTime
      if (failed) failuresByJob(job) += 1
      rec(e.stageId).foreach { r =>
        if (failed) r.taskFailures += 1
        if (m != null) {
          r.taskRunMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.gcMs += m.jvmGCTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          r.inputBytes += m.inputMetrics.bytesRead
          r.outputBytes += m.outputMetrics.bytesWritten
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def cpuSeconds(job: Int): Double = synchronized(cpuNsByJob(job) / 1e9)
  def taskFailures(job: Int): Int = synchronized(failuresByJob(job))
  def stagesOf(job: Int): Seq[StageRec] =
    synchronized(stages.get(job).map(_.values.toSeq).getOrElse(Nil))
}
