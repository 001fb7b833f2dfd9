package graft

import graft.engine.QueryProfile
import graft.operators.Dedup
import graft.tools.SkewProbe.pairHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Permanent regression gate for the frozen TF-IDF auto-selection rule
  * (r8 skew probe, BENCH_SKEW_r08.json; promoted to a spec per the r8
  * verdict so an edit to the prefix bound or the mass-ratio statistic
  * cannot silently break the rule between probe runs).
  *
  * Small in-memory replicas of the probe's two regimes:
  *  - a topical Zipf corpus (each doc dominated by one rare topic term —
  *    the weight-skew shape the prefix filter exploits), built with the
  *    same id-arithmetic construction as tools/SkewProbe.synthZipf;
  *  - a near-uniform "word soup" (every term drawn uniformly from a
  *    small vocabulary — the bench-corpus shape where prefixes keep most
  *    of the posting mass and the plain path wins).
  *
  * Pinned properties:
  *  1. the EXACT mass-ratio statistic separates the regimes across the
  *     frozen 0.35 cutoff with margin;
  *  2. the SAMPLED pre-flight (1-in-TfidfAutoSampleMod documents, what
  *     tfidfCosinePairsAuto actually runs since r9) agrees with the
  *     exact statistic's side of the cutoff on both corpora;
  *  3. plain and prefix outputs are equal on BOTH corpora (count +
  *     content hash) — the lossless-prefix theorem's standing check, so
  *     a mis-prediction can only ever cost time;
  *  4. the auto path's output equals plain's on both corpora (whichever
  *     branch it selected).
  */
class SkewProbeSpec extends SparkSpec {

  private val nDocs = 1200
  private val cutoff = Dedup.TfidfAutoMassRatioCutoff

  /** Topical Zipf corpus, the SkewProbe construction at spec size:
    * topic token ×10 + 30 Zipf(1) background tokens over vocab v;
    * every 5th doc a near-copy of its predecessor. */
  private lazy val skewDocs: DataFrame = {
    val v = 5000
    spark.range(0, nDocs.toLong).toDF("doc_id")
      .withColumn("seed",
        when(pmod(col("doc_id"), lit(5)) === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .select(col("doc_id"),
        expr(s"""array_join(concat(
          array_repeat(concat('topic',
            CAST(pmod(xxhash64(seed), 800) AS STRING)), 10),
          transform(sequence(1, 30), p ->
            concat('t', CAST(least($v, 1 + floor(pow($v.0,
              pmod(xxhash64(IF(p <= 27, seed, doc_id), p),
                1000000000) / 1000000000.0))) AS INT)))), ' ')""")
          .as("text"))
  }

  /** Near-uniform word soup: 30 tokens per doc drawn uniformly over a
    * 400-term vocabulary — high doc frequencies everywhere, so prefix
    * bounds barely trim and the pair mass survives the filter. Every
    * 4th doc copies its predecessor to keep the qualifying set
    * non-trivial. */
  private lazy val uniformDocs: DataFrame = {
    spark.range(0, nDocs.toLong).toDF("doc_id")
      .withColumn("seed",
        when(pmod(col("doc_id"), lit(4)) === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .select(col("doc_id"),
        expr("""array_join(transform(sequence(1, 30), p ->
            concat('u', CAST(pmod(xxhash64(seed, p), 400) AS STRING))),
          ' ')""").as("text"))
  }

  /** The sampled statistic exactly as tfidfCosinePairsAuto computes it —
    * the PRODUCTION method (sample + scaled cap + persist-free), not a
    * replica that could drift. */
  private def sampledRatio(df: DataFrame): Double =
    Dedup.tfidfPrefixMassRatioSampled(df, "doc_id", "text", n = 1)

  test("exact mass-ratio statistic separates the skew and uniform " +
    "regimes across the frozen 0.35 cutoff with margin") {
    QueryProfile.cold(spark)
    val rSkew = Dedup.tfidfPrefixMassRatio(skewDocs, "doc_id", "text",
      n = 1)
    QueryProfile.cold(spark)
    val rUni = Dedup.tfidfPrefixMassRatio(uniformDocs, "doc_id", "text",
      n = 1)
    assert(rSkew <= cutoff / 2,
      s"skew-regime mass ratio $rSkew lost its margin below the cutoff")
    assert(rUni >= cutoff * 1.5,
      s"uniform-regime mass ratio $rUni lost its margin above the cutoff")
  }

  test("sampled pre-flight statistic (statSampleMod=8) lands on the same " +
    "side of the cutoff as the exact statistic on both corpora") {
    QueryProfile.cold(spark)
    assert(sampledRatio(skewDocs) <= cutoff,
      "sampled statistic no longer selects the prefix path on the " +
        "skew corpus")
    QueryProfile.cold(spark)
    assert(sampledRatio(uniformDocs) > cutoff,
      "sampled statistic no longer selects the plain path on the " +
        "uniform corpus")
  }

  test("plain, prefix, and auto emit the identical exact pair set on " +
    "both corpora (lossless prefix; a mis-prediction costs only time)") {
    for (docs <- Seq(skewDocs, uniformDocs)) {
      QueryProfile.cold(spark)
      val plain = pairHash(
        Dedup.tfidfCosinePairs(docs, "doc_id", "text", n = 1,
          threshold = 0.5))
      QueryProfile.cold(spark)
      val pref = pairHash(
        Dedup.tfidfCosinePairsPrefix(docs, "doc_id", "text", n = 1,
          threshold = 0.5))
      QueryProfile.cold(spark)
      val auto = pairHash(
        Dedup.tfidfCosinePairsAuto(docs, "doc_id", "text", n = 1))
      assert(plain._1 > 0, "degenerate corpus: no qualifying pairs")
      assert(pref === plain, "prefix output diverged from plain")
      assert(auto === plain, "auto output diverged from plain")
    }
  }
}
