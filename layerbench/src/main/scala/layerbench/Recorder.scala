package layerbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counts the work of traced queries through the public listener APIs:
  * a `SparkListener` for jobs, stages, tasks and cached blocks, and a
  * `QueryExecutionListener` for the planning phases of each action.
  *
  * Jobs are tagged by the local properties the driver thread sets before
  * each phase ([[Recorder.PassKey]], [[Recorder.QueryKey]],
  * [[Recorder.PhaseKey]]); Spark copies them into every job the phase
  * submits, including the ones AQE and broadcast exchanges launch from
  * their own threads. Callbacks run on the listener-bus thread, readers
  * on the driver thread, so every access is synchronized. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val barriers = mutable.HashSet.empty[String]
  private var putBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop(PassKey).foreach { pass =>
      val site = if (e.stageInfos.isEmpty) ""
                 else e.stageInfos.maxBy(_.stageId).name
      val j = JobRec(e.jobId, pass.toInt, prop(QueryKey).getOrElse(""),
        prop(PhaseKey).getOrElse(""), site, e.time)
      jobs += j
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      j.failed = e.jobResult != JobSucceeded
      if (j.phase == BarrierPhase) barriers += j.query
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId, j, si.name))
          .submitMs = si.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      val ti = e.taskInfo
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        if (ti != null)
          s.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) s.emptyTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        putBytes += b.memSize + b.diskSize
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = planned(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = planned(funcName, qe)

  private def planned(funcName: String, qe: QueryExecution): Unit =
    synchronized {
      plans += PlanRec(funcName, qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs, v.endTimeMs) })
    }

  def sawBarrier(token: String): Boolean = synchronized(barriers(token))

  /** Whether an action planned from `ms` on has been recorded. */
  def plannedSince(ms: Long): Boolean = synchronized(
    plans.exists(p => p.phases.nonEmpty && p.phases.values.map(_._1).min >= ms))

  /** Everything recorded so far; clears the record for the next query. */
  def drain(): Snapshot = synchronized {
    val s = Snapshot(jobs.filter(_.phase != BarrierPhase).toSeq,
      stages.values.toSeq, plans.toSeq, putBytes)
    jobs.clear(); stages.clear(); stageJob.clear(); plans.clear()
    barriers.clear(); putBytes = 0L
    s
  }
}

object Recorder {
  val PassKey = "layerbench.pass"
  val QueryKey = "layerbench.query"
  val PhaseKey = "layerbench.phase"
  val BarrierPhase = "barrier"

  final case class JobRec(id: Int, pass: Int, query: String, phase: String,
                          callSite: String, startMs: Long) {
    var endMs: Long = -1L
    var failed: Boolean = false
  }

  final class StageRec(val id: Int, val job: JobRec, val name: String) {
    var submitMs = 0L
    var doneMs = 0L
    var tasks = 0
    var failedTasks = 0
    var emptyTasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var peakExec = 0L
  }

  /** Planning phases of one action: phase name → (start ms, end ms). */
  final case class PlanRec(funcName: String, phases: Map[String, (Long, Long)])

  final case class Snapshot(jobs: Seq[JobRec], stages: Seq[StageRec],
                            plans: Seq[PlanRec], cachePutBytes: Long)

  object Snapshot {
    def merge(xs: Seq[Snapshot]): Snapshot =
      Snapshot(xs.flatMap(_.jobs), xs.flatMap(_.stages), xs.flatMap(_.plans),
        xs.map(_.cachePutBytes).sum)
  }
}
