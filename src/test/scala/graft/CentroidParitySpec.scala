package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Regime-boundary parity for Similarity.centroidScores: the literal
  * VectorCosine expansion (nlist <= 64) and the CentroidCosines matrix
  * kernel (nlist > 64) must agree PER COSINE, BIT FOR BIT, on the same
  * >64-centroid set — a corpus growing past the boundary (e.g.
  * semanticDedupIvf's nlist=ceil(N/64) crossing ~4096 vectors) must not
  * flip a near-tie argmax assignment. Both kernels accumulate dot and
  * norms left-to-right in double and divide by the product of sqrts, so
  * equality is exact, not approximate — this suite pins that.
  *
  * The one known divergence is also pinned: a ZERO-NORM input scores
  * NaN (0/0) per cosine in the literal regime vs 0.0 in the matrix
  * regime; every cell ranks equal under either ordering, so the
  * struct-max argmax agrees anyway (highest index wins the tie). */
class CentroidParitySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val nCent = 80 // > 64: matrix regime unless forced literal

  private def mkCentroids(): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(nCent)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def mkVecs(n: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(11)
    (1L to n.toLong).map(i => i -> Seq.fill(dim)(rnd.nextGaussian()))
  }

  test("literal and matrix regimes agree bit-for-bit on 80 centroids") {
    val cents = mkCentroids()
    val df = mkVecs(200).toDF("id", "v")
    def scores(forceLiteral: Boolean): Map[Long, Seq[Double]] =
      df.select(col("id"),
          Similarity.centroidScores(cents, col("v"), forceLiteral)
            .getField("c").as("cs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val lit0 = scores(forceLiteral = true)
    val mat = scores(forceLiteral = false)
    lit0.foreach { case (id, ls) =>
      val ms = mat(id)
      assert(ls.length == nCent && ms.length == nCent)
      ls.zip(ms).zipWithIndex.foreach { case ((l, m), i) =>
        assert(java.lang.Double.doubleToLongBits(l) ==
          java.lang.Double.doubleToLongBits(m),
          s"id=$id centroid=$i literal=$l matrix=$m")
      }
    }
  }

  test("argmax assignment identical across regimes, near-ties included") {
    val cents = mkCentroids()
    // duplicated centroids make EXACT cosine ties; near-parallel vectors
    // make near-ties — the failure mode the parity contract protects
    val tieCents = cents.take(40) ++ cents.take(40)
    val df = (mkVecs(100) ++
      cents.take(10).zipWithIndex.map { case (c, i) =>
        (1000L + i) -> c.toSeq // exactly ON a duplicated centroid
      }).toDF("id", "v")
    def assign(forceLiteral: Boolean): Map[Long, Int] =
      df.select(col("id"),
          array_max(Similarity.centroidScores(tieCents, col("v"),
            forceLiteral)).getField("i").as("cl"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assign(forceLiteral = true) == assign(forceLiteral = false))
  }

  test("zero-norm divergence is exactly the documented one: NaN vs 0.0, " +
    "argmax still agrees") {
    val cents = mkCentroids()
    val df = Seq((1L, Seq.fill(dim)(0.0))).toDF("id", "v")
    val litScores = df.select(
        Similarity.centroidScores(cents, col("v"), forceLiteral = true)
          .getField("c")).collect().head.getSeq[Double](0)
    val matScores = df.select(
        Similarity.centroidScores(cents, col("v"), forceLiteral = false)
          .getField("c")).collect().head.getSeq[Double](0)
    assert(litScores.forall(_.isNaN))
    assert(matScores.forall(_ == 0.0))
    def cl(forceLiteral: Boolean): Int = df.select(
        array_max(Similarity.centroidScores(cents, col("v"),
          forceLiteral)).getField("i")).collect().head.getInt(0)
    assert(cl(forceLiteral = true) == cl(forceLiteral = false))
  }
}
