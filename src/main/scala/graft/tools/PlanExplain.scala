package graft.tools

import graft.SparkEntry

/** Dump the `.explain("formatted")` output (and, after a noop-sink
  * execution, the AQE-final executed plan) of one gated query, for the
  * committed before/after plan evidence under plans/. Args:
  * <sfDir> <queryName> [outFile]. Same session + cache-reset discipline
  * as PlanGuardSpec so the dumped plan is the one the bench measures. */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val name = args(1)
    val spark = graft.engine.Context.local().spark
    graft.engine.QueryProfile.cold(spark)
    val df = SparkEntry.queries(name)(spark, sf)
    val sb = new StringBuilder
    sb.append("==== explain(formatted) " + name + " ====\n")
    sb.append(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    // Drive execution through the df's OWN QueryExecution (r11, per
    // ADVICE): a df.write.save() runs a separate QueryExecution, so
    // df.queryExecution.executedPlan would never execute and the dump
    // below would mislabel the initial adaptive plan
    // (isFinalPlan=false) as AQE-final evidence. Counting the executed
    // plan's RDD materializes every partition of THIS QueryExecution,
    // so AdaptiveSparkPlanExec re-optimizes and the toString shows the
    // real final plan (isFinalPlan=true).
    df.queryExecution.executedPlan.execute().count()
    sb.append("\n==== executed plan (AQE final) " + name + " ====\n")
    sb.append(df.queryExecution.executedPlan.toString)
    val out = sb.toString
    if (args.length > 2) {
      java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
        out.getBytes("UTF-8"))
      println("wrote " + args(2))
    } else println(out)
    spark.stop()
  }
}
