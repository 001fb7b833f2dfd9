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
    // RDD ids, source lines, lambda names, object identity hashes, the
    // working directory, and the codegen ids of a cached plan, which count
    // apart from the outer ones
    val cwd = new java.io.File(".").getCanonicalPath
    def run(rdd: Int, line: Int, lambda: String, cached: Int,
            hash: String): String =
      s"*($cached) Project\n+- InMemoryRelation [k#1L]\n" +
        s"   +- *($cached) Scan MapPartitionsRDD[$rdd] at localCheckpoint" +
        s" at Graph.scala:$line\n*(${cached + 1}) MapPartitions" +
        s" graft.operators.Multimodal$$$$$$Lambda$lambda\n" +
        s"Filter bloommightcontain(fp#2, [B@$hash)\n" +
        s"file:$cwd/target/graft-edges/e"
    val c = run(45, 140, "/0x00007f8a78d8bbb0@5984742f", 1, "6171b73a")
    val d = run(7, 152, "$2668/0x00007f00d8a3b2c0@1a2b3c", 4, "e6ed753")
    assert(PlanExplain.normalise(c, "/data/sf") ==
      PlanExplain.normalise(d, "/data/sf"))
    assert(PlanExplain.normalise(c, "/data/sf") ==
      "*(1) Project\n+- InMemoryRelation [k#1L]\n" +
        "   +- *(1) Scan MapPartitionsRDD[1] at localCheckpoint" +
        " at Graph.scala:N\n*(2) MapPartitions" +
        " graft.operators.Multimodal$$$Lambda\n" +
        "Filter bloommightcontain(fp#2, [B@)\nfile:$CWD/target/graft-edges/e")
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
