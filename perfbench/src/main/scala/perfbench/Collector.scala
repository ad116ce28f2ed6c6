package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** What the engine ran, seen from outside: one `SparkListener` plus one
  * `QueryExecutionListener`, both registered by the benchmark.
  *
  * Cumulative counters are always kept (the untraced run needs shuffle
  * bytes).  With `detailed`, every job, stage and query-planning record is
  * kept too, tagged with the job group the harness set for the phase that
  * launched it (`pass/item/phase`); the spans and per-layer metrics are
  * derived from those records when the run ends.  Events arrive on the
  * listener bus thread, so every read happens after [[BusDrain]]. */
final class Collector(detailed: Boolean)
    extends SparkListener with QueryExecutionListener {
  import Collector._

  @volatile var shuffleWrite = 0L
  @volatile var materialized = 0L
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val plans = ArrayBuffer.empty[PlanRec]
  private val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]
  private val groupOfStage = scala.collection.mutable.HashMap.empty[Int, String]
  private val retriesOfStage = scala.collection.mutable.HashMap.empty[Int, Long]
  private val openJobs = scala.collection.mutable.HashMap.empty[Int, JobRec]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detailed) {
      val j = JobRec(e.jobId, groupOf(e.properties), e.time, -1L)
      openJobs(e.jobId) = j
      jobs += j
      e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (detailed) groupOfStage(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (detailed && (e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative))
      retriesOfStage(e.stageId) = retriesOfStage.getOrElse(e.stageId, 0L) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val shw = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    shuffleWrite += shw
    if (detailed && m != null) {
      val submit = si.submissionTime.getOrElse(0L)
      val persisted = si.rddInfos.filter(r =>
        r.storageLevel.isValid || r.name.contains("Checkpoint")).map(_.id).toSet
      stages += StageRec(
        id = si.stageId, attempt = si.attemptNumber(), job = jobOfStage.getOrElse(si.stageId, -1),
        group = groupOfStage.getOrElse(si.stageId, ""), submit = submit,
        complete = si.completionTime.getOrElse(submit), tasks = si.numTasks,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        inBytes = m.inputMetrics.bytesRead, inRecs = m.inputMetrics.recordsRead,
        shWrite = shw,
        shRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        rddIds = si.rddInfos.map(_.id).filterNot(persisted).toSet,
        retries = retriesOfStage.getOrElse(si.stageId, 0L))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      synchronized { materialized += b.memSize + b.diskSize }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detailed) synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans += PlanRec(ph.values.map(_.startTimeMs).min,
          ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Collector {
  final case class JobRec(id: Int, group: String, start: Long, var end: Long)
  final case class StageRec(id: Int, attempt: Int, job: Int, group: String, submit: Long,
      complete: Long, tasks: Int, runMs: Long, cpuNs: Long, inBytes: Long, inRecs: Long,
      shWrite: Long, shRead: Long, spill: Long, rddIds: Set[Int], retries: Long)
  /** One query's Catalyst phases (analysis, optimization, planning). */
  final case class PlanRec(start: Long, end: Long, phaseMs: Long)
}
