package graft

import graft.engine.Context
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Context façade: reads, registration, SQL, DDL, in-memory source
  * (reference context.rs:34-172 surface). */
class ContextSpec extends SparkSpec {

  // its own session: the Context sets its shuffle-partition count there,
  // not in the session every suite shares
  private lazy val ctx = new Context(spark.newSession())

  private def tmpCsv(content: String, name: String): String = {
    val dir = Files.createTempDirectory("graft-csv")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("readCsv with header + inferred schema") {
    val p = tmpCsv("a,b\n1,2\n3,4\n", "t1.csv")
    val df = ctx.readCsv(p, hasHeader = true)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
    assert(df.schema("a").dataType == IntegerType)
  }

  test("readCsv without header uses positional names") {
    val p = tmpCsv("1,2\n3,4\n", "t2.csv")
    val df = ctx.readCsv(p, hasHeader = false)
    assert(df.count() == 2)
    assert(df.columns.length == 2)
  }

  test("readCsv with explicit schema and delimiter") {
    val p = tmpCsv("1|x\n2|y\n", "t3.csv")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val df = ctx.readCsv(p, hasHeader = false, delimiter = "|",
      schema = Some(schema))
    assert(df.schema == schema)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("readCsv honors file_extension via pathGlobFilter") {
    val dir = Files.createTempDirectory("graft-csv-ext")
    Files.writeString(dir.resolve("a.csv"), "x\n1\n2\n")
    Files.writeString(dir.resolve("b.tsv"), "x\n3\n4\n5\n")
    val onlyCsv = ctx.readCsv(dir.toString, hasHeader = true)
    assert(onlyCsv.count() == 2) // default .csv filter skips the .tsv
    val onlyTsv = ctx.readCsv(dir.toString, hasHeader = true,
      fileExtension = ".tsv")
    assert(onlyTsv.count() == 3)
  }

  test("registerCsv + sql") {
    val p = tmpCsv("a,b\n1,2\n3,4\n", "t4.csv")
    ctx.registerCsv("csv_t4", p)
    val out = ctx.sql("SELECT sum(a) AS s FROM csv_t4").collect()
    assert(out.head.getLong(0) == 4L)
  }

  test("registerParquet + sql join") {
    ctx.registerParquet("nation_t", s"$sf/nation.parquet")
    ctx.registerParquet("region_t", s"$sf/region.parquet")
    val n = ctx.sql(
      """SELECT r_name, count(*) AS n FROM nation_t, region_t
        |WHERE n_regionkey = r_regionkey GROUP BY r_name""".stripMargin)
    assert(n.collect().map(_.getLong(1)).sum == 25L)
  }

  test("SQL DDL: CREATE TABLE USING parquet LOCATION + SHOW TABLES") {
    ctx.sql(s"CREATE TABLE IF NOT EXISTS ddl_nation USING parquet " +
      s"LOCATION '$sf/nation.parquet'")
    try {
      val tables = ctx.sql("SHOW TABLES").collect().map(_.getString(1))
      assert(tables.contains("ddl_nation"))
      assert(ctx.sql("SELECT count(*) AS c FROM ddl_nation")
        .collect().head.getLong(0) == 25L)
    } finally ctx.sql("DROP TABLE IF EXISTS ddl_nation")
  }

  test("createDataFrame in-memory source + expression select") {
    // the documented two-column example (reference python.md:115-132)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val df = ctx.createDataFrame(
      Seq(Row(1L, 4L), Row(2L, 5L), Row(3L, 6L)), schema)
    import org.apache.spark.sql.functions.col
    val got = df.select((col("a") + col("b")).as("s"),
                        (col("a") - col("b")).as("d"))
      .orderBy(col("s")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(5L, 7L, 9L))
    assert(got.map(_.getLong(1)).toSeq == Seq(-3L, -3L, -3L))
  }

  test("readAvro reports environment-unsupported clearly") {
    val e = intercept[Exception] {
      ctx.readAvro("/tmp/nonexistent.avro").collect()
    }
    assert(e.isInstanceOf[UnsupportedOperationException] ||
      e.getMessage.toLowerCase.contains("avro"))
  }

  test("shufflePartitions ctor param reaches session conf") {
    val s = spark.newSession()
    new Context(s, shufflePartitions = 16)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "16")
    new Context(s, shufflePartitions = 4)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
