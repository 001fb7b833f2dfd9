package graft

import graft.expressions.VectorDotInt
import org.apache.spark.sql.functions._

/** Native integer-dot kernel: parity with the composed zip_with/aggregate
  * form, null contract, and overflow-free long accumulation. */
class VectorDotIntSpec extends SparkSpec {
  import spark.implicits._

  private def composed = (a: String, b: String) =>
    aggregate(zip_with(col(a), col(b), (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)

  test("matches the composed form on random int8-range vectors") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val d = 1 + rng.nextInt(64)
      (i.toLong,
        Array.fill(d)(rng.nextInt(255) - 127),
        Array.fill(d)(rng.nextInt(255) - 127))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(col("id"),
        VectorDotInt.vecDotInt(col("a"), col("b")).as("native"),
        composed("a", "b").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id=${r.get(0)}"))
  }

  test("null contract: length mismatch and null elements yield NULL") {
    val df = Seq((1L, Seq(1, 2, 3), Seq(1, 2))).toDF("id", "a", "b")
    assert(df.select(
      VectorDotInt.vecDotInt(col("a"), col("b"))).collect()(0)
      .isNullAt(0))
    val withNull = spark.sql(
      "SELECT array(1, NULL, 3) AS a, array(1, 2, 3) AS b")
    assert(withNull.select(
      VectorDotInt.vecDotInt(col("a"), col("b"))).collect()(0)
      .isNullAt(0))
  }

  test("long accumulation: no int overflow on large element products") {
    val df = Seq((Seq(2000000000, 2000000000),
                  Seq(2000000000, 2000000000))).toDF("a", "b")
    val got = df.select(
      VectorDotInt.vecDotInt(col("a"), col("b"))).collect()(0)
      .getLong(0)
    assert(got == 2L * 2000000000L * 2000000000L)
  }

  test("rejects non-int-array inputs with a clear error") {
    val df = Seq((Seq(1.0, 2.0), Seq(1, 2))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorDotInt.vecDotInt(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("vec_dot_int") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
