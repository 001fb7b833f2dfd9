package graft.tools

import org.apache.spark.sql.execution.QueryExecution

/** Plan auditor: prints the markers that matter for the 100 TB design
  * review — scan pushdown/pruning, join strategies (AQE-chosen broadcasts
  * vs shuffles), exchange count, codegen spans — for the headline queries.
  * Run with SPARK_GRAFT_SF_DIR to audit at a given scale factor. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("tpch_q5", "tpch_q7", "tpch_q8", "tpch_q21",
        "llm_dedup_minhash", "llm_embed_ann_pairs")
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val qe: QueryExecution = df.queryExecution
      // Execute THIS QueryExecution (df.write would spawn a separate one,
      // leaving qe's adaptive plan un-finalized — auditing only the static
      // initial plan, not AQE's runtime choices).
      val t0 = System.nanoTime()
      qe.toRdd.foreach(_ => ())
      val secs = (System.nanoTime() - t0) / 1e9
      // Materialized AQE stages are LEAF nodes wrapping their own subtree,
      // and codegen collapse happens inside them — unwrap for both the
      // string markers and the codegen-span count.
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => unwrap(a.executedPlan)
        case other => other
      }
      def spans(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
        case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => spans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          spans(q.plan)
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          1 + w.children.map(spans).sum
        case other => other.children.map(spans).sum
      }
      val plan = unwrap(qe.executedPlan).toString
      def count(marker: String): Int =
        marker.r.findAllIn(plan).length
      println(f"== $name  ($secs%.2fs)")
      println(s"   BroadcastHashJoin=${count("BroadcastHashJoin")} " +
        s"SortMergeJoin=${count("SortMergeJoin")} " +
        s"ShuffledHashJoin=${count("ShuffledHashJoin")} " +
        s"Exchange=${count("Exchange (?!hashpartitioning#)")} " +
        s"CodegenSpans=${spans(qe.executedPlan)} " +
        s"Sort=${count("\\bSort\\b")} " +
        s"GroupedTopK=${count("GroupedTopK")} " +
        s"WindowGroupLimit=${count("WindowGroupLimit")}")
      plan.linesIterator
        .filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .take(8)
        .foreach(l => println("   " + l.trim.take(160)))
    }
    spark.stop()
  }
}
