package graft

import graft.tools.PlanExplain
import org.apache.spark.sql.functions._

/** Plan dumps normalise the numbers Spark assigns per run, so two dumps of
  * one plan compare equal and a dump diff shows only plan changes. */
class PlanExplainSpec extends SparkSpec {
  import spark.implicits._

  test("normalise renumbers run-dependent ids in order of first appearance") {
    val a = "ShuffleQueryStage 4\n+- Exchange hashpartitioning(k#57L, 256)," +
      " [plan_id=311]\n   +- *(3) HashAggregate(keys=[k#57L])" +
      " [codegen id : 3] v#12 k#57L\nfile:/data/sf/t.parquet"
    val b = "ShuffleQueryStage 0\n+- Exchange hashpartitioning(k#3L, 256)," +
      " [plan_id=90]\n   +- *(1) HashAggregate(keys=[k#3L])" +
      " [codegen id : 1] v#8 k#3L\nfile:/other/t.parquet"
    assert(PlanExplain.normalise(a, "/data/sf") ==
      PlanExplain.normalise(b, "/other"))
    assert(PlanExplain.normalise(a, "/data/sf") ==
      "ShuffleQueryStage 1\n+- Exchange hashpartitioning(k#1L, 256)," +
        " [plan_id=1]\n   +- *(1) HashAggregate(keys=[k#1L])" +
        " [codegen id : 1] v#2 k#1L\nfile:$SF/t.parquet")
  }

  test("two plannings of one query normalise to the same text") {
    def dump(): String = {
      val df = (1 to 100).map(i => (i % 7, i)).toDF("k", "v")
        .groupBy($"k").agg(sum($"v").as("s"))
      df.collect()
      PlanExplain.normalise(df.queryExecution.executedPlan.toString,
        "/nowhere")
    }
    val first = dump()
    assert(first.contains("QueryStage 1"))
    assert(dump() == first)
  }
}
