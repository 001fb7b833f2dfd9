package graft

import graft.expressions.VectorCosine
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Native VectorCosine kernel: correctness, bit-parity with the composed
  * zip_with/aggregate form (interpreted AND codegen paths), type checking. */
class VectorCosineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
    (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
    (Seq(0.3f, -0.7f, 0.2f), Seq(-0.1f, 0.4f, 0.9f)),
    (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f))
  ).toDF("a", "b")

  test("known values: identical→1, orthogonal→0, zero-norm→NaN") {
    val out = df.select(
      VectorCosine.vecCosine($"a", $"b").as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-15)
    assert(out(1).getDouble(0) == 0.0)
    assert(out(3).getDouble(0).isNaN)
  }

  test("bit-identical to the composed zip_with/aggregate form") {
    // zero-norm row excluded: ANSI mode makes the composed form's Divide
    // throw DIVIDE_BY_ZERO, while the native kernel yields NaN (Java
    // semantics) — the kernel is the more forgiving of the two.
    val both = df.filter(aggregate($"a", lit(0.0), _ + abs(_)) > 0).select(
      VectorCosine.vecCosine($"a", $"b").as("fast"),
      Similarity.cosine($"a".cast("array<double>"),
        $"b".cast("array<double>")).as("composed")).collect()
    both.foreach { r =>
      val f = r.getDouble(0); val c = r.getDouble(1)
      assert(java.lang.Double.doubleToLongBits(f) ==
        java.lang.Double.doubleToLongBits(c), s"$f != $c")
    }
  }

  test("double-array inputs and mixed float/double work") {
    val d = Seq((Seq(1.0, 2.0), Seq(2.0, 4.0))).toDF("a", "b")
    val c = d.select(VectorCosine.vecCosine($"a", $"b")).collect()
      .head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-15)
    val mixed = Seq((Seq(1.0f, 2.0f), Seq(2.0, 4.0))).toDF("a", "b")
    assert(math.abs(mixed.select(VectorCosine.vecCosine($"a", $"b"))
      .collect().head.getDouble(0) - 1.0) < 1e-15)
  }

  test("null inputs propagate null") {
    val d = Seq((Some(Seq(1.0f)), None: Option[Seq[Float]]))
      .toDF("a", "b")
    assert(d.select(VectorCosine.vecCosine($"a", $"b")).collect()
      .head.isNullAt(0))
  }

  test("length mismatch and null elements yield NULL (zip_with parity)") {
    // mismatched lengths: zip_with null-pads, nulling the aggregate — the
    // kernel must agree (NULL), not silently truncate to min(n)
    val mism = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)))
      .toDF("a", "b")
    assert(mism.select(VectorCosine.vecCosine($"a", $"b")).collect()
      .head.isNullAt(0))
    // a null element propagates through the sum → NULL
    val withNull = Seq((Seq[java.lang.Float](1.0f, null, 3.0f),
        Seq[java.lang.Float](1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    assert(withNull.select(VectorCosine.vecCosine($"a", $"b"))
      .collect().head.isNullAt(0))
    // and the composed form agrees on both cases
    val composed = mism.select(Similarity.cosine(
      $"a".cast("array<double>"), $"b".cast("array<double>"))).collect()
    assert(composed.head.isNullAt(0))
  }

  test("rejects non-array inputs at analysis time") {
    val d = Seq((1, 2)).toDF("a", "b")
    val e = intercept[Exception] {
      d.select(VectorCosine.vecCosine($"a", $"b")).collect()
    }
    assert(e.getMessage.contains("vec_cosine") ||
      e.getMessage.toLowerCase.contains("type"))
  }

  test("survives codegen on a wide scan (whole-stage path)") {
    val wide = spark.range(0, 1000)
      .select($"id",
        transform(sequence(lit(0), lit(63)),
          i => (i + $"id" % 7).cast("float")).as("a"),
        transform(sequence(lit(0), lit(63)),
          i => (i * 2 + 1).cast("float")).as("b"))
    val n = wide.select(VectorCosine.vecCosine($"a", $"b").as("c"))
      .filter($"c" > 0.5).count()
    assert(n > 0)
  }
}
