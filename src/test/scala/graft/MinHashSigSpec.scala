package graft

import graft.expressions.MinHashSig
import org.apache.spark.sql.functions._

/** Fused MinHashSig aggregate: bit-parity with the composed k separate
  * `min(xxhash64(lit(i), sh))` columns, multi-partition partial/final merge,
  * and the empty-group null contract. */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val k = 16

  // (id, shingle-hash) rows spread over several partitions so the aggregate
  // exercises partial update + serialize/deserialize + merge, not just a
  // single-buffer path
  private lazy val sh = Seq.tabulate(400) { j =>
    (j % 7, j.toLong * 0x9E3779B97F4A7C15L + j)
  }.toDF("id", "sh").repartition(8)

  test("bit-identical to k separate min(xxhash64(lit(i), sh)) aggregates") {
    val fused = sh.groupBy($"id")
      .agg(MinHashSig.minhashSig($"sh", k).as("mh"))
    val composed = sh.groupBy($"id")
      .agg(min(xxhash64(lit(0), $"sh")).as("c_0"),
        (1 until k).map(i => min(xxhash64(lit(i), $"sh")).as(s"c_$i")): _*)
    val joined = fused.join(composed, "id").collect()
    assert(joined.length == 7)
    joined.foreach { r =>
      val mh = r.getAs[scala.collection.Seq[Long]]("mh")
      (0 until k).foreach { i =>
        assert(mh(i) == r.getAs[Long](s"c_$i"),
          s"family $i diverges for id ${r.getAs[Int]("id")}")
      }
    }
  }

  test("null shingles are ignored; all-null group yields null signature") {
    val mixed = Seq((1, Some(10L)), (1, None), (2, None))
      .toDF("id", "sh")
    val out = mixed.groupBy($"id")
      .agg(MinHashSig.minhashSig($"sh", 4).as("mh"))
      .orderBy($"id").collect()
    val sig1 = out(0).getAs[scala.collection.Seq[Long]]("mh")
    assert(sig1 != null && sig1.length == 4)
    assert(out(1).isNullAt(1), "group with only null shingles must be null")
  }

  test("signature feeds minhashDedupPairs unchanged (planted near-dups)") {
    val base = "the quick brown fox jumps over the lazy dog " * 12
    val docs = Seq(
      (1L, base), (2L, base + "extra token"), (3L, "совершенно другой текст " * 20)
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.8)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }
}
