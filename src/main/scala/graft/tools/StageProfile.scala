package graft.tools

import org.apache.spark.scheduler._

/** Ad-hoc job/stage profiler for a named gated query (not part of the
  * driver contract): runs the query under the exact Bench session config
  * and prints, for the measured (post-warmup) pass, every job with its
  * wall time and every stage with task count and task-time totals —
  * attributing a latency-bound query's cost to its stage chain (guide
  * §1.1/§7.1; the UI is disabled in this sandbox, so this is the
  * programmatic stand-in). Usage: runMain graft.tools.StageProfile <query>
  * [<query> ...]. Env: SPARK_GRAFT_SF_DIR. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class StageRec(id: Int, name: String, var tasks: Int = 0,
      var taskTimeMs: Long = 0L, var submitMs: Long = 0L,
      var doneMs: Long = 0L)
    final case class JobRec(id: Int, var startMs: Long = 0L,
      var endMs: Long = 0L,
      stages: scala.collection.mutable.ArrayBuffer[Int] =
        scala.collection.mutable.ArrayBuffer.empty)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) {
          val j = JobRec(e.jobId, startMs = e.time)
          j.stages ++= e.stageIds
          jobs.put(e.jobId, j)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.endMs = e.time
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (record) {
          val si = e.stageInfo
          stages.put(si.stageId, StageRec(si.stageId, si.name,
            submitMs = si.submissionTime.getOrElse(0L)))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.get(e.stageInfo.stageId)
        if (s != null) {
          s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
          s.tasks = e.stageInfo.numTasks
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.get(e.stageId)
        if (s != null && e.taskInfo != null)
          s.taskTimeMs += (e.taskInfo.finishTime - e.taskInfo.launchTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def pass(): Double = {
        graft.operators.Dedup.releaseCaches()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      pass(); pass() // JIT + page cache
      jobs.clear(); stages.clear()
      record = true
      val wall = pass()
      record = false
      Thread.sleep(500) // let the listener bus drain
      println(f"==== $name wall=${wall}%.3fs ====")
      val js = jobs.values.toArray(Array.empty[JobRec]).sortBy(_.id)
      var covered = 0L
      js.foreach { j =>
        val dur = j.endMs - j.startMs
        covered += dur
        val ss = j.stages.toSeq.sorted.flatMap(id => Option(stages.get(id)))
        val stageStr = ss.map(s =>
          f"s${s.id}[${s.tasks}t ${(s.doneMs - s.submitMs)}%dms " +
            f"tt=${s.taskTimeMs}ms ${s.name.take(60)}]").mkString(" ")
        println(f"job ${j.id}%3d ${dur}%5dms  $stageStr")
      }
      println(f"jobs=${js.length} sum(job wall)=${covered}ms " +
        f"query wall=${(wall * 1000).toLong}ms " +
        f"(gap=${(wall * 1000).toLong - covered}ms driver/planning)")
    }
    spark.stop()
  }
}
