package graft.tools

import graft.engine.QueryProfile

/** Times named gated queries under the Bench discipline (noop sink, cold
  * caches, one warm-up pass, then the min of 3 passes) and attributes the
  * last timed pass to its jobs and stages: every job with its wall time,
  * every stage with its task count and summed task time. Runs in a session
  * built from `Context.sessionConf` (README "Session configuration" says
  * how to A/B an entry). Prints `TIME <query> <min of 3>s`, then the
  * breakdown. Usage: runMain graft.tools.StageProfile <query> [<query>
  * ...]. Env: SPARK_GRAFT_SF_DIR. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      QueryProfile.pass(spark)(fn(spark, sfDir)) // JIT the plan shapes
      val passes = Seq.fill(3) {
        var wall = 0.0
        val prof = QueryProfile.run(spark) {
          wall = QueryProfile.pass(spark)(fn(spark, sfDir))
        }
        (wall, prof)
      }
      println(f"TIME $name ${passes.map(_._1).min}%.2fs")
      val (wall, prof) = passes.last
      println(f"==== $name wall=${wall}%.3fs ====")
      prof.jobs.foreach { j =>
        val stageStr = j.stages.map(s =>
          f"s${s.id}[${s.tasks}t ${s.doneMs - s.submitMs}%dms " +
            f"tt=${s.taskMs}ms ${s.name.take(60)}]").mkString(" ")
        println(f"job ${j.id}%3d ${j.ms}%5dms  $stageStr")
      }
      val covered = prof.jobs.map(_.ms).sum
      println(f"jobs=${prof.jobs.length} sum(job wall)=${covered}ms " +
        f"query wall=${(wall * 1000).toLong}ms " +
        f"(gap=${(wall * 1000).toLong - covered}ms driver/planning)")
    }
    spark.stop()
  }
}
