package graft.tools

import graft.SparkEntry

/** Dump the `.explain("formatted")` output (and, after a noop-sink
  * execution, the AQE-final executed plan) of one gated query, for the
  * committed before/after plan evidence under plans/. Args:
  * <sfDir> <queryName> [outFile]. Same session + cache-reset discipline
  * as PlanGuardSpec so the dumped plan is the one the bench measures.
  * The dump is [[normalise]]d, so two runs of one plan print the same
  * text and a diff between two dumps shows only plan changes. */
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
    val out = normalise(sb.toString,
      new java.io.File(sf).getCanonicalPath)
    if (args.length > 2) {
      java.nio.file.Files.write(java.nio.file.Paths.get(args(2)),
        out.getBytes("UTF-8"))
      println("wrote " + args(2))
    } else println(out)
    spark.stop()
  }

  /** The numbers in a plan dump that change from run to run, each with
    * the text before it: expression ids (`#123`), exchange plan ids, AQE
    * query-stage numbers (assigned in the order stages finish) and
    * whole-stage codegen ids (`*(3)` in a tree, `codegen id : 3` in the
    * formatted listing; one numbering for both). */
  private val runNumbers = Seq(
    "expr" -> "(#)(\\d+)".r,
    "plan" -> "(plan_id=)(\\d+)".r,
    "stage" -> "(QueryStage )(\\d+)".r,
    "codegen" -> "(\\*\\()(\\d+)(?=\\))".r,
    "codegen" -> "(codegen id : )(\\d+)".r)

  /** `dump` with each kind of [[runNumbers]] renumbered 1, 2, … in order
    * of first appearance, and the table directory `sfDir` printed as
    * `$SF`. Two runs of one plan normalise to the same text. */
  def normalise(dump: String, sfDir: String): String = {
    val renumbered = runNumbers.groupMap(_._1)(_._2).foldLeft(dump) {
      case (text, (_, patterns)) =>
        val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        patterns.foldLeft(text)((t, p) => p.replaceAllIn(t, m =>
          scala.util.matching.Regex.quoteReplacement(m.group(1) +
            ids.getOrElseUpdate(m.group(2), ids.size + 1))))
    }
    renumbered.replace(sfDir, "$SF")
  }
}
