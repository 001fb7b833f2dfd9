package graft.tools

import graft.SparkEntry

/** Dump the `.explain("formatted")` output (and, after a noop-sink
  * execution, the AQE-final executed plan) of gated queries, for the
  * committed before/after plan evidence under plans/. Args:
  * <sfDir> <outDir> <queryName>...; writes `<outDir>/<queryName>.txt` per
  * query, all from one JVM. Same session + cache-reset discipline as
  * PlanGuardSpec so the dumped plan is the one the bench measures. Each
  * dump is [[normalise]]d, so two runs of one plan print the same text and
  * a diff between two dumps shows only plan changes. */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val outDir = new java.io.File(args(1))
    outDir.mkdirs()
    val spark = graft.engine.Context.local().spark
    for (name <- args.drop(2)) {
      graft.engine.QueryProfile.cold(spark)
      val df = SparkEntry.queries(name)(spark, sf)
      val sb = new StringBuilder
      sb.append("==== explain(formatted) " + name + " ====\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      // execute the df's OWN QueryExecution (a write would run another
      // one), so the plan printed below is AQE's final plan
      df.queryExecution.executedPlan.execute().count()
      sb.append("\n==== executed plan (AQE final) " + name + " ====\n")
      sb.append(df.queryExecution.executedPlan.toString)
      val out = new java.io.File(outDir, name + ".txt")
      java.nio.file.Files.write(out.toPath, normalise(sb.toString,
        new java.io.File(sf).getCanonicalPath).getBytes("UTF-8"))
      println("wrote " + out)
    }
    spark.stop()
  }

  /** The numbers in a plan dump that change from run to run, each with
    * the text before it: expression ids (`#123`), exchange plan ids, AQE
    * query-stage numbers (assigned in the order stages finish), RDD ids
    * (`MapPartitionsRDD[45]` of a checkpointed scan) and whole-stage
    * codegen ids (`*(3)` in a tree, `codegen id : 3` in the formatted
    * listing; one numbering for both). */
  private val runNumbers = Seq(
    "expr" -> "(#)(\\d+)".r,
    "plan" -> "(plan_id=)(\\d+)".r,
    "stage" -> "(QueryStage )(\\d+)".r,
    "rdd" -> "(RDD\\[)(\\d+)(?=\\])".r,
    "codegen" -> "(\\*\\()(\\d+)(?=\\))".r,
    "codegen" -> "(codegen id : )(\\d+)".r)

  /** Text masked whole: the source line an RDD was created at
    * (`at localCheckpoint at Graph.scala:140` moves with every edit above
    * it), a lambda's class name and identity hash
    * (`Multimodal$$$Lambda/0x00007f8a78d8bbb0@5984742f`), and the identity
    * hash of any other object a plan prints by `toString` (a bloom
    * filter's `[B@6171b73a`, a UDAF's `GeometricMean$@461bca75`). */
  private val runText = Seq(
    "(\\.scala:)\\d+".r -> "$1N",
    "\\$Lambda[$/\\w]*@[0-9a-f]+".r -> "\\$Lambda",
    "(?<=[\\w$;])@[0-9a-f]{1,8}(?!\\w)".r -> "@")

  /** `dump` with each kind of [[runNumbers]] renumbered 1, 2, … in order
    * of first appearance, [[runText]] masked, the table directory `sfDir`
    * printed as `$SF` and the working directory (where Tables keeps the
    * derived `target/graft-edges` table) as `$CWD`. The codegen ids of a
    * cached plan printed under an `InMemoryRelation` count on their own:
    * that plan was compiled by another query, and its ids would otherwise
    * interleave with this query's. Two runs of one plan normalise to the
    * same text. */
  def normalise(dump: String, sfDir: String): String = {
    val masked = runText.foldLeft(dump) { case (t, (p, r)) =>
      p.replaceAllIn(t, r)
    }
    val renumbered = runNumbers.groupMap(_._1)(_._2).foldLeft(masked) {
      case (text, ("codegen", patterns)) =>
        val (outer, cached) = (renumber(patterns), renumber(patterns))
        val lines = text.split("\n", -1).toSeq
        lines.zip(inCachedPlan(lines)).map { case (line, isCached) =>
          if (isCached) cached(line) else outer(line)
        }.mkString("\n")
      case (text, (_, patterns)) => renumber(patterns)(text)
    }
    renumbered.replace(sfDir, "$SF")
      .replace(new java.io.File(".").getCanonicalPath, "$CWD")
  }

  /** One numbering: each distinct id `patterns` match in the texts it is
    * given becomes 1, 2, … by first appearance. */
  private def renumber(patterns: Seq[scala.util.matching.Regex])
      : String => String = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    text => patterns.foldLeft(text)((t, p) => p.replaceAllIn(t, m =>
      scala.util.matching.Regex.quoteReplacement(m.group(1) +
        ids.getOrElseUpdate(m.group(2), ids.size + 1))))
  }

  /** Whether each line of a plan tree lies in the subtree under an
    * `InMemoryRelation` node: the lines after it that are indented deeper. */
  private def inCachedPlan(lines: Seq[String]): Seq[Boolean] =
    lines.scanLeft((-1, false)) { case ((at, _), line) =>
      val indent = line.indexWhere(c => c.isLetter || c == '*' || c == '(')
      val open = if (at >= 0 && indent > at) at else -1
      (if (open < 0) line.indexOf("InMemoryRelation") else open, open >= 0)
    }.tail.map(_._2)
}
