package graft

import graft.plans.GroupedTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom whole-operator path (logical node → strategy → physical exec):
  * per-key top-k must equal the window row_number formulation on any data,
  * plan with the custom exec node (no sort), and survive multi-partition
  * inputs and ties. */
class GroupedTopKSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(df: org.apache.spark.sql.DataFrame,
                         k: Int): Set[(String, Long, Double)] = {
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    df.withColumn("rn", row_number().over(w)).filter($"rn" <= k).drop("rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
  }

  private val rnd = new scala.util.Random(17)
  private lazy val data = (1 to 2000).map { i =>
    (s"g${i % 23}", i.toLong, rnd.nextDouble() * 100)
  }

  test("equals window row_number top-k on random data") {
    val df = data.toDF("g", "id", "v").repartition(8)
    val custom = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(custom == windowTopK(df, 5))
  }

  test("plans through GroupedTopKExec with no sort below it") {
    val df = data.toDF("g", "id", "v")
    val out = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 3)
    out.collect()
    // string match: plan.exists doesn't descend into AQE's final plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopK"), s"no GroupedTopKExec in:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected sort in:\n$plan")
  }

  test("ties break on the secondary key; k larger than group passes all") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0),
      ("b", 9L, 1.0)).toDF("g", "id", "v").repartition(4)
    val top2 = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(top2 == Set(("a", 1L), ("a", 2L), ("b", 9L)))
    val top10 = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 10)
    assert(top10.count() == 4)
  }

  test("optimizer rule rewrites the window top-k idiom into the operator") {
    val df = data.toDF("g", "id", "v").repartition(6)
    // the idiomatic window formulation, untouched user code
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    val idiom = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4).drop("rn")
    val rows = idiom.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val plan = idiom.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopK"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected sort in:\n$plan")
    // semantics unchanged vs a driver-side reference (windowTopK itself
    // would be rewritten by the session's rule)
    val expected = data.groupBy(_._1).values.flatMap { rs =>
      rs.sortBy(r => (-r._3, r._2)).take(4)
    }.toSet
    assert(rows == expected)
    // guard: rank column still referenced above -> rule must NOT fire
    val keepRn = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 4)
    keepRn.collect()
    assert(!keepRn.queryExecution.executedPlan.toString
      .contains("GroupedTopK"))
  }

  test("safety valve: pathological key cardinality under a tight group cap") {
    // 20k distinct keys funneled into few partitions with the cap at 97:
    // the partial phase must flush (batched emit) and the final phase must
    // take the external-sort fallback — results must be IDENTICAL to the
    // unconstrained heap path / the window form
    spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "97")
    try {
      val many = (1 to 60000).map { i =>
        (s"k${i % 20000}", i.toLong, rnd.nextDouble() * 10)
      }
      val df = many.toDF("g", "id", "v").repartition(2)
      val valve = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val expected = many.groupBy(_._1).values.flatMap { rs =>
        rs.sortBy(r => (-r._3, r._2)).take(2)
      }.map(r => (r._1, r._2)).toSet
      assert(valve.size == expected.size && valve == expected)
    } finally spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
  }

  test("safety valve preserves per-key sort order in the fallback") {
    spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "11")
    try {
      val many = (1 to 9000).map { i =>
        (s"k${i % 3000}", i.toLong, rnd.nextDouble() * 10)
      }
      val df = many.toDF("g", "id", "v").repartition(2)
      val rows = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 3)
        .filter($"g" === "k17").collect()
        .map(r => (r.getDouble(2), r.getLong(1)))
      assert(rows.nonEmpty &&
        rows.sortBy(t => (-t._1, t._2)).toSeq == rows.toSeq)
    } finally spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
  }

  test("floating keys normalize like Spark's own groupBy: -0.0/0.0 and " +
    "distinct NaN bit patterns form ONE group on both heap and valve " +
    "paths") {
    val negZero = java.lang.Double.longBitsToDouble(0x8000000000000000L)
    val nanA = java.lang.Double.longBitsToDouble(0x7FF8000000000001L)
    val nanB = java.lang.Double.longBitsToDouble(0x7FF8000000000002L)
    val rows = Seq((0.0, 1L, 10.0), (negZero, 2L, 20.0), (0.0, 3L, 30.0),
      (negZero, 4L, 40.0), (nanA, 5L, 50.0), (nanB, 6L, 60.0))
    val df = rows.toDF("g", "id", "v").repartition(3)
    def run(): Seq[(Long, Double)] =
      GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 2)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq.sorted
    // one zero group (top-2 by v: ids 4, 3) and one NaN group (6, 5) —
    // binary-distinct keys must merge exactly as groupBy would merge them
    val expected = Seq((3L, 30.0), (4L, 40.0), (5L, 50.0), (6L, 60.0))
    assert(run() == expected, "heap path")
    val prev = spark.conf.getOption("spark.graft.topk.maxGroupsPerPartition")
    try {
      spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "1")
      assert(run() == expected, "valve path")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.graft.topk.maxGroupsPerPartition", v)
        case None =>
          spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
      }
    }
  }

  test("column pruning pushes through the custom node: wide payloads " +
    "never reach the heaps when downstream only aggregates narrow cols") {
    val df = data.toDF("g", "id", "v")
      .withColumn("payload", concat_ws("-", lit("x" * 2000), $"id"))
    val out = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 3)
      .groupBy($"g").agg(sum($"v").as("sv"))
    out.collect()
    // string match: plan.collect doesn't descend into AQE's final plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKPartial"), s"operator missing:\n$plan")
    // everything BELOW the partial phase (its input subtree) must have
    // dropped the wide column before the heaps/exchange
    val belowHeaps = plan.substring(plan.indexOf("GroupedTopKPartial"))
    assert(!belowHeaps.contains("payload"),
      s"wide column rode the heaps:\n$plan")
  }

  test("per-key output order follows the sort spec") {
    val df = data.toDF("g", "id", "v")
    val rows = GroupedTopK(df, Seq("g"), Seq($"v".desc, $"id".asc), 4)
      .filter($"g" === "g7").collect()
      .map(r => (r.getDouble(2), r.getLong(1)))
    assert(rows.sortBy(t => (-t._1, t._2)).toSeq == rows.toSeq)
  }
}
