package graft

import graft.engine.QueryProfile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

/** Tables.read: each table's parquet schema is inferred once per session
  * and reused while the file and the session's parquet conf stay the
  * same; every access still scans afresh. */
class TablesSpec extends SparkSpec {

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings", "edges")

  private def table(t: Tables, name: String): DataFrame = name match {
    case "region"     => t.region
    case "nation"     => t.nation
    case "customer"   => t.customer
    case "supplier"   => t.supplier
    case "part"       => t.part
    case "orders"     => t.orders
    case "lineitem"   => t.lineitem
    case "events"     => t.events
    case "documents"  => t.documents
    case "embeddings" => t.embeddings
    case "edges"      => t.edges
  }

  test("after the first access, fresh Tables instances start no Spark job") {
    names.foreach(n => table(Tables(spark, sf), n).schema)
    val jobs = QueryProfile.run(spark) {
      names.foreach(n => table(Tables(spark, sf), n).schema)
      Tables(spark, sf).registerAll()
    }.jobs
    assert(jobs.isEmpty)
  }

  test("the memoized schema equals the inferred one, nullability included") {
    names.filter(_ != "edges").foreach { n =>
      val path = s"$sf/$n.parquet"
      Tables.read(spark, path)
      val memo = Tables.read(spark, path).schema
      val inferred = spark.read.parquet(path).schema
      assert(memo == inferred, n)
      assert(memo.map(_.nullable) == inferred.map(_.nullable), n)
    }
  }

  test("a table rewritten at the same path with a new schema is re-read") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toFile
    try {
      val path = new java.io.File(dir, "region.parquet").toString
      import spark.implicits._
      Seq((1L, "a")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(path)
      assert(Tables(spark, dir.toString).region.columns.toSeq ==
        Seq("r_regionkey", "r_name"))
      Seq((2.5, "b", 3)).toDF("x", "y", "z")
        .write.mode("overwrite").parquet(path)
      val df = Tables(spark, dir.toString).region
      assert(df.columns.toSeq == Seq("x", "y", "z"))
      assert(df.collect().map(r => (r.getDouble(0), r.getString(1),
        r.getInt(2))).toSeq == Seq((2.5, "b", 3)))
    } finally Tables.deleteRecursively(dir)
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers events; " +
    "ts stays a TimestampType with the same values") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def ts(): (DataFrame, Seq[java.sql.Timestamp]) = {
      val df = Tables(spark, sf).events
      (df, df.select(col("event_id"), col("ts")).orderBy(col("event_id"))
        .collect().map(_.getTimestamp(1)).toSeq)
    }
    val before = spark.conf.getOption(key)
    val (df0, v0) = ts()
    try {
      spark.conf.set(key, (!before.contains("true")).toString)
      assert(QueryProfile.run(spark)(Tables(spark, sf).events).jobs.nonEmpty)
      assert(QueryProfile.run(spark)(Tables(spark, sf).events).jobs.isEmpty)
      val (df1, v1) = ts()
      assert(df0.schema("ts").dataType == TimestampType)
      assert(df1.schema("ts").dataType == TimestampType)
      assert(v1 == v0 && v0.nonEmpty)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a self-join of two accesses (q7's n1/n2) resolves and returns the " +
    "rows of two independent scans") {
    def pairs(n1: DataFrame, n2: DataFrame): Seq[(Int, Int)] =
      n1.select(col("n_nationkey").as("a"), col("n_regionkey").as("r"))
        .join(n2.select(col("n_nationkey").as("b"),
          col("n_regionkey").as("r")), "r")
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).orderBy(col("a"), col("b"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val t = Tables(spark, sf)
    val memo = pairs(t.nation, t.nation)
    val path = s"$sf/nation.parquet"
    val plain = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert(memo.nonEmpty && memo == plain)
  }
}
