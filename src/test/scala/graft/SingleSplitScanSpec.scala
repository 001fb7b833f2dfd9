package graft

import graft.engine.QueryProfile
import graft.plans.{GroupedTopK, SingleSplitScanExec, SingleSplitScanStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** A file scan of exactly one split plans as one partition: no exchange
  * above it for an aggregate, a global sort or a grouped top-k, the same
  * rows as the same data spread over several files (which keep their
  * exchanges), and a gate that reads the listing without running a job. */
class SingleSplitScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("single-split").toString

  private lazy val data = spark.range(2000).select(
    concat(lit("g"), ($"id" % 23).cast("string")).as("g"), $"id",
    (($"id" * 7919) % 1000).as("v"))

  /** `data` written as `files` parquet files. */
  private def written(name: String, files: Int): String = {
    val path = s"$dir/$name"
    data.repartition(files).write.mode("overwrite").parquet(path)
    path
  }

  private lazy val oneFile = written("one", 1)
  private lazy val threeFiles = written("three", 3)

  /** The AQE-final plan, after running the query. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "aggregate" -> (_.groupBy($"g").agg(sum($"v").as("s"),
      count(lit(1)).as("n"))),
    "global sort" -> (_.orderBy($"v".desc, $"id")),
    "grouped top-k" -> (df => GroupedTopK(df, Seq("g"),
      Seq($"v".desc, $"id".asc), 3)))

  for ((shape, build) <- shapes)
    test(s"$shape over a one-file table plans no exchange and matches " +
      "the multi-file copy") {
      val single = build(spark.read.parquet(oneFile))
      val multi = build(spark.read.parquet(threeFiles))
      val singlePlan = finalPlan(single)
      assert(singlePlan.contains("SingleSplitScan"), singlePlan)
      assert(!singlePlan.contains("Exchange"), singlePlan)
      val multiPlan = finalPlan(multi)
      assert(!multiPlan.contains("SingleSplitScan"), multiPlan)
      assert(multiPlan.contains("Exchange"), multiPlan)
      if (shape == "global sort")
        assert(single.collect().toSeq == multi.collect().toSeq)
      else
        assert(single.collect().toSet == multi.collect().toSet)
    }

  test("a union of one-file scans groups every row once") {
    val one = spark.read.parquet(oneFile)
    val got = one.union(one).groupBy($"g").agg(count(lit(1)).as("n"))
    assert(got.collect().map(_.getLong(1)).sorted.toSeq ==
      data.groupBy($"g").agg((count(lit(1)) * 2).as("n"))
        .collect().map(_.getLong(1)).sorted.toSeq)
  }

  test("a global count over a 0-row parquet file returns one row") {
    val path = s"$dir/empty"
    data.limit(0).coalesce(1).write.mode("overwrite").parquet(path)
    val counted = spark.read.parquet(path).agg(count(lit(1)).as("n"))
    assert(finalPlan(counted).contains("SingleSplitScan"))
    assert(counted.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.get

  test("partitioned and bucketed relations are left alone") {
    val parted = s"$dir/parted"
    data.withColumn("p", lit(1)).coalesce(1)
      .write.mode("overwrite").partitionBy("p").parquet(parted)
    val p = spark.read.parquet(parted)
    assert(!SingleSplitScanStrategy.isSingleSplit(relationOf(p)))
    assert(!finalPlan(p.groupBy($"g").count()).contains("SingleSplitScan"))

    spark.sql("DROP TABLE IF EXISTS single_split_bucketed")
    try {
      data.coalesce(1).write.bucketBy(1, "g")
        .saveAsTable("single_split_bucketed")
      val b = spark.table("single_split_bucketed")
      assert(!SingleSplitScanStrategy.isSingleSplit(relationOf(b)))
      assert(!finalPlan(b.groupBy($"id").count())
        .contains("SingleSplitScan"))
    } finally spark.sql("DROP TABLE IF EXISTS single_split_bucketed")
  }

  test("building and planning the DataFrame starts no job") {
    // reading the parquet schema runs a footer job; the gate must not
    val scan = spark.read.parquet(oneFile)
    var df: DataFrame = null
    val profile = QueryProfile.run(spark) {
      df = scan.groupBy($"g").count()
      df.queryExecution.executedPlan
    }
    assert(profile.jobs.isEmpty)
    assert(SingleSplitScanStrategy.isSingleSplit(relationOf(df)))
  }

  test("the node fails loudly over a scan of more than one partition") {
    val scan = spark.read.parquet(threeFiles).queryExecution.sparkPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    val e = intercept[IllegalStateException](
      SingleSplitScanExec(ColumnarToRowExec(scan)).execute())
    assert(e.getMessage.contains("has 3"), e.getMessage)
  }
}
