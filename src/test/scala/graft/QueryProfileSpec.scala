package graft

import graft.engine.QueryProfile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** QueryProfile.run counts the jobs its body starts on its own thread,
  * all of them and nothing else, and reads their tasks' spill. */
class QueryProfileSpec extends SparkSpec {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Job ids Spark's own status store (an untagged listener) holds. */
  private def storedJobs: Set[Int] =
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).toSet

  test("an AQE query with a broadcast: the profile counts the jobs and " +
    "tasks Spark's status store records for the same window") {
    val q11 = SparkEntry.queries("tpch_q11")
    QueryProfile.cold(spark)
    val plan = q11(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan") && plan.contains("Broadcast"))
    val before = storedJobs
    val prof = QueryProfile.run(spark)(noop(q11(spark, sf)))
    val st = spark.sparkContext.statusTracker
    val jobs = (storedJobs -- before).toSeq.sorted
    val tasks = jobs.flatMap(j => st.getJobInfo(j).get.stageIds).distinct
      .flatMap(st.getStageInfo(_))
      .map(s => s.numCompletedTasks + s.numFailedTasks).sum
    assert(jobs.size > 1)
    assert(prof.jobs.map(_.id) == jobs)
    assert(prof.tasks == tasks)
  }

  test("a job another thread starts during the body is not counted") {
    val sc = spark.sparkContext
    val go = new java.util.concurrent.CountDownLatch(1)
    // created before run, so it does not inherit run's tag
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 100, 5).count()
      ()
    })
    other.start()
    val before = storedJobs
    val prof = QueryProfile.run(spark) {
      go.countDown()
      sc.parallelize(1 to 100, 3).count()
      other.join()
    }
    assert((storedJobs -- before).size == 2)
    assert(prof.jobs.size == 1)
    assert(prof.tasks == 3)
  }

  test("forced-spill confs show disk spill; the same query spills nothing " +
    "at default confs") {
    val df = spark.range(0, 20000, 1, 2)
      .select((col("id") % 3).as("k"), col("id"))
      .withColumn("s", sum(col("id")).over(Window.partitionBy(col("k"))))
    val confs = Map(
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "256",
      "spark.sql.windowExec.buffer.spill.threshold" -> "512")
    assert(QueryProfile.run(spark)(noop(df)).diskSpillBytes == 0)
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(QueryProfile.run(spark)(noop(df)).diskSpillBytes > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
