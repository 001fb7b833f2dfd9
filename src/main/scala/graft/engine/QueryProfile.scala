package graft.engine

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Where a query's time, tasks and spill went: the one execution-metrics
  * facility that Bench, the `graft.tools` mains and the tests read (the
  * DataFusion paper keeps execution metrics in the library; the reference
  * exposes them as `explain(verbose, analyze)`, dataframe.rs:165-174). */
object QueryProfile {

  /** One stage a profiled job ran: task attempts that ended, their summed
    * wall time, and the stage's submit/done times (epoch ms). */
  final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
                         submitMs: Long, doneMs: Long)

  /** One profiled job and the stages it ran (a stage another job already
    * ran, and AQE's skipped stages, are not listed). */
  final case class Job(id: Int, startMs: Long, endMs: Long,
                       stages: Seq[Stage]) {
    def ms: Long = endMs - startMs
  }

  /** The jobs a [[run]] body started, and their tasks' summed spill,
    * largest peak execution memory and summed JVM GC time. */
  final case class Profile(jobs: Seq[Job], memorySpillBytes: Long,
                           diskSpillBytes: Long, peakExecBytes: Long,
                           gcMs: Long) {
    def tasks: Int = jobs.flatMap(_.stages).map(_.tasks).sum
  }

  /** Drop every cache a query can leave behind: Dedup's scoped operator
    * caches and the session's persisted plans. Without it a repeated query
    * reads the previous run's output-sized persists (tfidf's qualifying
    * sets) and a neighbour's warm tables, so a timing measures a cache
    * fetch and not the query's solo cold cost. */
  def cold(spark: SparkSession): Unit = {
    graft.operators.Dedup.releaseCaches()
    spark.sharedState.cacheManager.clearCache()
  }

  /** Seconds to construct `df` and write it to the noop sink (every
    * operator materialized; a bare count() would let Catalyst prune
    * columns), from [[cold]] caches. The blocks [[cold]] drops are
    * collected before the clock starts: left to the collector, they were
    * collected inside the next timed pass and made untouched pure-SQL
    * queries (tpch_q11) jitter 0.7 ↔ 2.3 s between identical runs. */
  def pass(spark: SparkSession)(df: => DataFrame): Double = {
    cold(spark)
    System.gc()
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Local property carrying a [[run]]'s tag into the jobs it starts
    * (Spark copies a thread's local properties into each job, the
    * broadcast and AQE stage submissions of a query included). */
  private val TagKey = "graft.profile.tag"

  /** Run `body` and profile the Spark jobs it starts on this thread. Jobs
    * other threads start meanwhile are not counted, and every event of
    * the counted jobs has been delivered when this returns. */
  def run(spark: SparkSession)(body: => Unit): Profile = {
    val sc = spark.sparkContext
    val rec = new Recorder(java.util.UUID.randomUUID().toString)
    sc.addSparkListener(rec)
    try {
      val outer = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, rec.tag)
      try body finally sc.setLocalProperty(TagKey, outer)
      ListenerBridge.drain(sc)
      rec.profile
    } finally sc.removeSparkListener(rec)
  }

  private final class Recorder(val tag: String) extends SparkListener {
    /** job id → (start ms, end ms, stage ids) */
    private val jobs = mutable.Map.empty[Int, (Long, Long, Seq[Int])]
    private val stages = mutable.Map.empty[Int, Stage]
    private var memorySpill, diskSpill, peakExec, gcMs = 0L

    private def tagged(p: java.util.Properties): Boolean =
      p != null && p.getProperty(TagKey) == tag

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (tagged(e.properties)) jobs(e.jobId) = (e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(_2 = e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val si = e.stageInfo
        if (tagged(e.properties) && !stages.contains(si.stageId))
          stages(si.stageId) = Stage(si.stageId, si.name, 0, 0L,
            si.submissionTime.getOrElse(0L), 0L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stages.get(si.stageId).foreach(s => stages(s.id) =
          s.copy(doneMs = si.completionTime.getOrElse(0L)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach { s =>
        val ms =
          if (e.taskInfo == null) 0L
          else e.taskInfo.finishTime - e.taskInfo.launchTime
        stages(s.id) = s.copy(tasks = s.tasks + 1, taskMs = s.taskMs + ms)
        val m = e.taskMetrics
        if (m != null) {
          memorySpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
          peakExec = math.max(peakExec, m.peakExecutionMemory)
          gcMs += m.jvmGCTime
        }
      }
    }

    def profile: Profile = synchronized {
      val listed = mutable.Set.empty[Int]
      val js = jobs.toSeq.sortBy(_._1).map { case (id, (start, end, ids)) =>
        Job(id, start, end,
          ids.sorted.flatMap(stages.get).filter(s => listed.add(s.id)))
      }
      Profile(js, memorySpill, diskSpill, peakExec, gcMs)
    }
  }
}
