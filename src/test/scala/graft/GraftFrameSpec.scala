package graft

import graft.engine.{Context, GraftFrame}
import graft.functions.{Functions => Fx}
import org.apache.spark.sql.functions._

/** GraftFrame: the reference's DataFrame method surface end-to-end
  * (dataframe.rs:30-181), composed through the Context. */
class GraftFrameSpec extends SparkSpec {

  // its own session: the Context sets its shuffle-partition count there,
  // not in the session every suite shares
  private lazy val ctx = new Context(spark.newSession())
  private def li = GraftFrame(ctx.readParquet(s"$sf/lineitem.parquet"))
  private def ord = GraftFrame(ctx.readParquet(s"$sf/orders.parquet"))

  test("flagship composition: scan→filter→aggregate→sort→limit") {
    val out = li
      .filter(Fx.col("l_returnflag").isNotNull)
      .aggregate(Seq(Fx.col("l_returnflag")),
                 Seq(Fx.count_star().as("cnt")))
      .sort(Fx.col("cnt").desc)
      .limit(2)
      .collect()
    assert(out.length == 2)
    assert(out(0).getLong(1) >= out(1).getLong(1))
  }

  test("selectColumns / apply / withColumn / schema") {
    val f = li.selectColumns("l_orderkey", "l_quantity")
      .withColumn("q2", Fx.col("l_quantity") * 2)
    assert(f.schema.fieldNames.toSeq == Seq("l_orderkey", "l_quantity", "q2"))
    val single: org.apache.spark.sql.Column = f("q2")
    assert(f.select(single).collect().nonEmpty)
    val multi = li(Seq("l_orderkey", "l_partkey"))
    assert(multi.schema.fieldNames.toSeq == Seq("l_orderkey", "l_partkey"))
  }

  test("join via key tuple with how string") {
    val j = li.join(ord, (Seq("l_orderkey"), Seq("o_orderkey")), "inner")
    assert(j.collect().length > 0)
    val semi = ord.join(li, (Seq("o_orderkey"), Seq("l_orderkey")), "semi")
    assert(semi.schema.fieldNames.forall(_.startsWith("o_")))
  }

  test("collectArrow round-trips losslessly to the Row surface " +
    "(the reference's RecordBatch result contract)") {
    // mixed types: integral keys, decimal-ish doubles, strings, a date
    val f = li.selectColumns("l_orderkey", "l_quantity", "l_returnflag",
        "l_shipdate")
      .sort(Fx.col("l_orderkey").asc, Fx.col("l_quantity").asc)
      .limit(500)
    val rows = f.collect()
    val batches = f.collectArrow()
    assert(batches.nonEmpty && batches.forall(_.nonEmpty))
    // batch bytes begin with an Arrow IPC continuation/length frame, not
    // row data — prove interop by decoding through the Arrow reader
    val decoded = org.apache.spark.sql.graftbridge.ArrowBridge
      .fromBatches(spark, f.schema, batches.iterator).toArray
    assert(decoded.length == rows.length)
    decoded.zip(rows).foreach { case (d, r) =>
      assert(d.toSeq == r.toSeq, s"row mismatch: $d vs $r")
    }
  }

  test("explainString exposes logical+physical plans, analyze runs") {
    val f = li.limit(5)
    val s = f.explainString(verbose = true)
    assert(s.contains("== Physical Plan =="))
    val a = f.explainString(analyze = true)
    assert(a.nonEmpty)
  }

  test("aggregate with empty group_by is a global aggregate") {
    val out = li.aggregate(Nil, Seq(Fx.sum(Fx.col("l_quantity")).as("s")))
      .collect()
    assert(out.length == 1 && out.head.getDouble(0) > 0)
  }
}
