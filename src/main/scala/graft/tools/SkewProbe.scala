package graft.tools

import graft.engine.QueryProfile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-regime probe for the two exact TF-IDF pair paths: demonstrates
  * the crossover the round-7 verdict asked for — the prefix-filtered
  * Bayardo path LOSES on the near-uniform bench corpus (measured in
  * BENCH_SCALE_r07) and must WIN on a weight-skewed corpus — and
  * calibrates the mass-ratio cutoff frozen in
  * [[graft.operators.Dedup.tfidfCosinePairsAuto]].
  *
  * Skewed corpus (deterministic, id-arithmetic only): a Zipf(s≈1.1)
  * vocabulary — token rank r drawn per (doc, pos) by inverse-CDF over
  * xxhash-uniform u — gives every document a few rare high-idf terms
  * carrying most of its weight mass, the shape real tf-idf corpora
  * have. Every 5th document is a near-copy of its predecessor (last
  * `mut` tokens reseeded) so the qualifying pair set is non-trivial and
  * the two paths' outputs can be equality-checked, not just timed.
  *
  * Emits one JSON artifact with: plain/prefix/auto wall-clock
  * (min-of-3) on BOTH corpora, the pair-count + content-hash equality
  * verdicts, and the measured mass ratios the auto cutoff separates.
  *
  * Usage: runMain graft.tools.SkewProbe [outJson] [nDocs]
  */
object SkewProbe {

  private def s3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Weight-skewed "topical" corpus — the shape real tf-idf corpora
    * have and the prefix filter exploits: each document is one rare
    * TOPIC token repeated 10× (tf·idf mass ≈ 90%+ of the doc's norm)
    * plus 50 background tokens drawn Zipf(1) over vocab V (rank = V^u,
    * the log-uniform inverse CDF — frequency ∝ 1/rank, no table
    * search). Every 5th document is a near-copy of its predecessor
    * (same topic, background reseeded in the last 5 positions), so the
    * qualifying pair set is non-trivial and both paths' outputs can be
    * equality-checked. Deterministic: pure (doc, pos) hash arithmetic. */
  private def synthZipf(spark: SparkSession, out: String, nDocs: Int,
                        v: Int = 20000): Unit = {
    val done = new java.io.File(out, "_SKEW_READY")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val docs = spark.range(0, nDocs.toLong).toDF("doc_id")
      // near-dup structure: doc 5k+1 copies doc 5k's topic and shares
      // its first 45 background positions (seed = doc - 1 there)
      .withColumn("seed",
        when(pmod(col("doc_id"), lit(5)) === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .select(col("doc_id"),
        expr(s"""array_join(concat(
          array_repeat(concat('topic',
            CAST(pmod(xxhash64(seed), 5000) AS STRING)), 10),
          transform(sequence(1, 50), p ->
            concat('t', CAST(least($v, 1 + floor(pow($v.0,
              pmod(xxhash64(IF(p <= 45, seed, doc_id), p),
                1000000000) / 1000000000.0))) AS INT)))), ' ')""")
          .as("text"))
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    done.createNewFile(); ()
  }

  /** (pair count, order-insensitive hash) of an (id_a, id_b, cosine) pair
    * set: the sum of per-pair xxhash64 (pmod before the sum: ANSI mode
    * makes a raw xxhash64 sum overflow). */
  private[graft] def pairHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(col("id_a"), col("id_b"),
        col("cosine").cast("string")), lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("BENCH_SKEW_r08.json")
    val nDocs = if (args.length > 1) args(1).toInt else 12000
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val skewDir = s"target/skew-probe/zipf-$nDocs"
    synthZipf(spark, skewDir, nDocs)
    val skew = spark.read.parquet(s"$skewDir/documents.parquet")
    val benchSrc = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val bench = graft.Tables(spark, benchSrc).documents

    import graft.operators.Dedup
    // unigram terms on the skewed corpus (the Zipf skew lives at the
    // token level); the bench corpus keeps the gated 3-gram config
    def plainS() = Dedup.tfidfCosinePairs(skew, "doc_id", "text",
      n = 1, threshold = 0.5)
    def prefS() = Dedup.tfidfCosinePairsPrefix(skew, "doc_id", "text",
      n = 1, threshold = 0.5)
    def autoS() = Dedup.tfidfCosinePairsAuto(skew, "doc_id", "text", n = 1)
    def plainB() = Dedup.tfidfCosinePairs(bench, "doc_id", "text",
      n = 3, threshold = 0.5)
    def prefB() = Dedup.tfidfCosinePairsPrefix(bench, "doc_id", "text",
      n = 3, threshold = 0.5)
    def autoB() = Dedup.tfidfCosinePairsAuto(bench, "doc_id", "text", n = 3)

    def time1(mk: () => DataFrame): Double = QueryProfile.pass(spark)(mk())
    def min3(mk: () => DataFrame): Double =
      Seq(time1(mk), time1(mk), time1(mk)).min

    // warmup both plan shapes on the small corpus
    time1(plainB); time1(prefB)

    val (nPlainS, hPlainS) = pairHash(plainS())
    val (nPrefS, hPrefS) = pairHash(prefS())
    val equalS = nPlainS == nPrefS && hPlainS == hPrefS
    val ratioSkew = Dedup.tfidfPrefixMassRatio(skew, "doc_id", "text", n = 1)
    val ratioBench = Dedup.tfidfPrefixMassRatio(bench, "doc_id", "text", n = 3)

    val tPlainS = min3(plainS)
    val tPrefS = min3(prefS)
    val tAutoS = min3(autoS)
    val tPlainB = min3(plainB)
    val tPrefB = min3(prefB)
    val tAutoB = min3(autoB)

    println(f"[skew] skew corpus:  plain ${tPlainS}%6.2fs  prefix ${tPrefS}%6.2fs  auto ${tAutoS}%6.2fs  massRatio ${ratioSkew}%6.4f  pairs $nPlainS  equal=$equalS")
    println(f"[skew] bench corpus: plain ${tPlainB}%6.2fs  prefix ${tPrefB}%6.2fs  auto ${tAutoB}%6.2fs  massRatio ${ratioBench}%6.4f")

    val cutoff = Dedup.TfidfAutoMassRatioCutoff
    val note = "Topical corpus, " + nDocs + " docs = rare topic token x10 " +
      "+ 50 Zipf(1) background tokens, every 5th doc a near-copy. massRatio = " +
      "prefix-surviving posting pair mass / total (Dedup." +
      "tfidfPrefixMassRatio). The auto cutoff " + cutoff + " must " +
      "separate the two measured regimes with margin; prefix_wins_skew and " +
      "equal_outputs must both be true. Timing: min-of-3 with scoped " +
      "caches cleared + System.gc() before every pass (each reading is " +
      "the solo cold cost). auto_sec on BOTH corpora carries the " +
      "pre-flight-overhead criterion: auto (sampled 1-in-" +
      Dedup.TfidfAutoSampleMod + " statistic " +
      "since r9) must read within ~1.2x the selected branch's solo time."
    val json = s"""{"probe":"tfidf-skew-crossover","n_docs":$nDocs,"note":"$note","skew":{"plain_sec":${s3(tPlainS)},"prefix_sec":${s3(tPrefS)},"auto_sec":${s3(tAutoS)},"mass_ratio":${s3(ratioSkew)},"pairs":$nPlainS,"equal_outputs":$equalS,"prefix_wins":${tPrefS < tPlainS}},"bench":{"plain_sec":${s3(tPlainB)},"prefix_sec":${s3(tPrefB)},"auto_sec":${s3(tAutoB)},"mass_ratio":${s3(ratioBench)},"plain_wins":${tPlainB < tPrefB}},"auto_cutoff":$cutoff,"cutoff_separates":${ratioSkew <= cutoff && ratioBench > cutoff}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
