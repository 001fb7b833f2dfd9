package graft.tools

import graft.engine.QueryProfile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: synthesize a deterministic ~Rx corpus from sf0.1 by
  * explode-and-reseed (the PathologicalSpec method scaled up), run the
  * heavy dedup/ANN/graph query family on both the original and the
  * scaled corpus, and emit a JSON artifact with per-query timings +
  * scaling ratios + every in-query gate column re-checked at the larger
  * SF. This is the evidence behind the "would this hold at 100 TB"
  * claims: each operator's wall-clock must grow at-most-linearly with
  * the data (modulo fixed per-query overhead), and every frozen
  * threshold (IVF probes, recall gates, packing invariants) must stay
  * green when the corpus it was frozen on grows 10x.
  *
  * Corpus construction (deterministic, seedless — pure id arithmetic):
  *  - documents xR: replica k of doc d gets doc_id = d*R + k and text
  *    ROTATED by (7k+3) mod len tokens (k = 0 keeps the original).
  *    Rotation preserves length/vocab distributions and nearly all
  *    shingles, so each original becomes a cluster of R near-dups —
  *    exactly the adversarial load a crawl snapshot re-crawl produces.
  *  - embeddings xR: replica k of vec v gets vec_id = v*R + k and a
  *    +-0.003 deterministic per-coordinate perturbation — R-sized
  *    near-neighbor clusters for the ANN/dedup family.
  *  - every other table is file-copied as-is.
  *
  * Quadratic-by-design validation gates (crossJoin exact baselines) run
  * at a smaller replication (default 3x) — the baseline is the
  * validation twin, not the production path, and 10x would square to a
  * 100x baseline cost that measures DuckDB-free assertion code, not the
  * operator. The production paths those gates certify run at the full
  * R in the main list.
  *
  * Usage: runMain graft.tools.ScaleProbe [outJson] [R] [gateR] [only]
  * (`only` = comma-separated query-name filter for re-probing)
  */
object ScaleProbe {

  /** Heavy linear-path queries probed at full R. */
  private val heavy = Seq(
    "llm_dedup_exact", "llm_dedup_minhash", "llm_dedup_prefix",
    "llm_dedup_substring", "llm_dedup_lines", "llm_url_dedup",
    "llm_winnow", "llm_fingerprint_groups",
    "llm_pagerank", "llm_trustrank", "llm_hits", "llm_link_stats",
    "llm_domain_cap", "llm_html_extract", "llm_pipeline_web",
    "llm_lm_kneser_ney", "llm_dsir_select", "llm_quality_classifier",
    "llm_pack_bestfit", "llm_ccnet_buckets", "llm_embed_ivf_topk",
    "llm_semantic_dedup_ivf", "llm_bpe_encode",
    // temporal/event family (events replicated with fresh user ids, so
    // window partitions multiply — the shape a 10x event stream has);
    // all FOUR as-of variants since the r7 struct-payload refactor
    // changed their shuffle payload shape
    "op_asof_join", "op_asof_nearest", "op_asof_fwd", "op_asof_tolerance",
    "events_sessionize",
    "events_dedup_window", "events_resample", "events_transitions",
    // wider text-analysis battery
    "llm_bm25", "llm_tfidf_pairs", "llm_tfidf_pairs_auto",
    "llm_keywords", "llm_collocations",
    "llm_token_entropy", "llm_gopher_filters", "llm_lm_bigram",
    "llm_corpus_kl", "llm_mojibake", "llm_normalize")

  /** Gate queries whose exact baselines are quadratic validation twins —
    * probed at gateR. Their boolean gate columns must be all-true. */
  private val gates = Seq(
    "llm_dedup_simhash_recall", "llm_embed_ann_recall",
    "llm_embed_pq_recall", "llm_embed_cluster_recall",
    "llm_hard_negatives_ivf", "llm_bitext_mine", "llm_pack_bestfit")

  private[tools] def synth(spark: SparkSession, src: String, out: String,
                           r: Int): Unit = {
    val done = new java.io.File(out, "_PROBE_READY")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs
      .withColumn("k", explode(sequence(lit(0), lit(r - 1))))
      .withColumn("tk", split(trim(col("text")), "\\s+"))
      .withColumn("rot",
        pmod(col("k") * 7 + 3, greatest(size(col("tk")), lit(1)))
          .cast("int"))
      .select(
        (col("doc_id") * r + col("k")).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(array_join(concat(
            expr("slice(tk, rot + 1, size(tk) - rot)"),
            expr("slice(tk, 1, rot)")), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast(
        docs.schema("n_chars").dataType))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb
      .withColumn("k", explode(sequence(lit(0), lit(r - 1))))
      .select(
        (col("vec_id") * r + col("k")).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "CAST(x + (((k * 31 + i) % 7) - 3) * 0.001 AS FLOAT))")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    ev
      .withColumn("k", explode(sequence(lit(0), lit(r - 1))))
      .select(
        (col("event_id") * r + col("k")).as("event_id"), col("ts"),
        (col("user_id") * r + col("k")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem").foreach { t =>
      val srcP = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(srcP)) {
        val d = java.nio.file.Paths.get(s"$out/$t.parquet")
        if (!java.nio.file.Files.exists(d))
          java.nio.file.Files.copy(srcP, d)
      }
    }
    done.createNewFile(); ()
  }

  private def s3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Steepest pair-bound curves: measured at BOTH R and R2 (when a 5th
    * arg gives R2) so the artifact carries a scaling EXPONENT — two
    * points give d(log t)/d(log data), not just one ratio. */
  private val steep = Seq(
    "llm_dedup_prefix", "llm_semantic_dedup_ivf", "llm_tfidf_pairs",
    "llm_tfidf_pairs_auto",
    // r10 additions (the r9 verdict's next-steepest watch list): minhash
    // tracked 3.9 at 10x under ~45x true-pair growth, dsir 6.4 at 10x —
    // exponents now on record before anyone scales them further
    "llm_dedup_minhash", "llm_dsir_select")

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("BENCH_SCALE_r08.json")
    val r = if (args.length > 1) args(1).toInt else 10
    val gateR = if (args.length > 2) args(2).toInt else 3
    // "-" = no filter (placeholder so a 5th positional arg can follow;
    // quoted empty strings survive sbt arg-splitting as literal quotes)
    val only: Set[String] =
      if (args.length > 3 && args(3).nonEmpty && args(3) != "-")
        args(3).split(",").toSet
      else Set.empty
    val r2 = if (args.length > 4) args(4).toInt else 0
    def keep(n: String) = only.isEmpty || only(n)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // v2: events are replicated too (v1 dirs carried a plain copy)
    val bigDir = s"target/scale-probe/v2-x$r"
    val gateDir = s"target/scale-probe/v2-x$gateR"
    val r2Dir = s"target/scale-probe/v2-x$r2"
    synth(spark, src, bigDir, r)
    synth(spark, src, gateDir, gateR)
    if (r2 > 0) synth(spark, src, r2Dir, r2)

    // COLD caches per pass (r9): without them a min-of-3 rep 2/3 read the
    // cached result of rep 1 (llm_tfidf_pairs x30 0.57 s vs the honest
    // ~146 s)
    def time(name: String, dir: String): Double =
      QueryProfile.pass(spark)(graft.SparkEntry.queries(name)(spark, dir))
    /** Gate columns (…_ok / recall_full booleans) must be all-true. */
    def gateCheck(name: String, dir: String): (Boolean, String) = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val gateCols = df.schema.fields.filter(f =>
        f.dataType == org.apache.spark.sql.types.BooleanType &&
          (f.name.endsWith("_ok") || f.name == "recall_full")).map(_.name)
      if (gateCols.isEmpty) (true, "no-gate-cols")
      else {
        val bad = df.select(gateCols.map(c =>
          sum(when(!col(c) || col(c).isNull, 1L).otherwise(0L)).as(c)): _*)
          .head()
        val failing = gateCols.zipWithIndex
          .filter { case (_, i) => bad.getLong(i) > 0 }.map(_._1)
        (failing.isEmpty,
          if (failing.isEmpty) gateCols.mkString("+")
          else "FAIL:" + failing.mkString(","))
      }
    }

    // warmup at sf0.001 (JIT the plan shapes)
    val warm = "/root/testdata/sf0.001"
    (heavy ++ gates).distinct.filter(keep).foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warm)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    // min-of-3 (the Bench.scala discipline — r7's min-of-2 left single
    // ratios quotable only to ~±30%). A query that dies (e.g. OOM at a
    // replication the heap can't hold) records -1 instead of killing
    // the whole probe artifact.
    def min3(n: String, dir: String): Double =
      try {
        val base = Seq(time(n, dir), time(n, dir), time(n, dir))
        // burst guard (r9, same as Bench): intermittent multi-minute host
        // slowdowns can straddle all 3 passes; high in-run dispersion is
        // the burst fingerprint — take 2 extra passes before reporting.
        // The extras run in their OWN try: a transient failure on pass 4
        // or 5 must not discard three already-valid readings (the guard
        // may only improve a reading, never destroy one).
        if (base.max / math.max(base.min, 1e-9) > 1.8)
          try (base ++ Seq(time(n, dir), time(n, dir))).min
          catch { case e: Throwable =>
            System.err.println(
              s"[probe] $n burst-guard extras failed on $dir " +
                s"(keeping base min): ${e.getMessage}")
            base.min
          }
        else base.min
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $n FAILED on $dir: ${e.getMessage}")
        -1.0
      }

    // Contention sentinel (Bench.scala discipline): tpch_q6 on the src
    // tables immediately before and after the measured set; >2x drift
    // between the two readings flags the artifact instead of letting
    // external CPU pressure masquerade as a bent scaling curve.
    def sentinelPass(): Double = time("tpch_q6", src)
    val sentinelFirst = {
      sentinelPass(); math.min(sentinelPass(), sentinelPass())
    }

    val rows = heavy.filter(keep).map { n =>
      val t1 = min3(n, src)
      val tR = min3(n, bigDir)
      val ratio =
        if (t1 < 0 || tR < 0) -1.0 else tR / math.max(t1, 1e-9)
      val expTail = if (r2 > 0 && steep.contains(n)) {
        // exponent from the (xR, xR2) pair: d(log t)/d(log data). The
        // sf0.1 point is EXCLUDED on purpose — fixed per-query overhead
        // dominates there and would bias the slope low.
        val tR2 = min3(n, r2Dir)
        val expo =
          if (tR2 < 0 || tR < 0) -1.0
          else math.log(tR2 / math.max(tR, 1e-9)) /
            math.log(r2.toDouble / r)
        println(f"[probe-exp] $n%-28s x$r ${tR}%7.2fs  x$r2 ${tR2}%7.2fs  exponent ${expo}%5.2f")
        s""","x${r2}_sec":${s3(tR2)},"exponent":${s3(expo)}"""
      } else ""
      println(f"[probe] $n%-28s sf0.1 ${t1}%7.2fs  x$r ${tR}%7.2fs  ratio ${ratio}%5.2f")
      s""""$n":{"sf01_sec":${s3(t1)},"x${r}_sec":${s3(tR)},"ratio":${s3(ratio)}$expTail}"""
    }
    val gateRows = gates.filter(keep).map { n =>
      val t0 = System.nanoTime()
      val (ok, detail) = gateCheck(n, gateDir)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe-gate] $n%-28s x$gateR ${sec}%7.2fs  ok=$ok ($detail)")
      s""""$n":{"x${gateR}_sec":${s3(sec)},"gates_green":$ok,"gate_cols":"$detail"}"""
    }
    // the one NON-quadratic gate (packing invariants — no crossJoin
    // baseline) re-checked at the r2 scale as well; the recall gates'
    // exact baselines are quadratic validation twins by construction and
    // would measure assertion code, not the operator, past gateR
    val gate30Rows = if (r2 > 0 && keep("llm_pack_bestfit")) {
      val (ok, detail) = gateCheck("llm_pack_bestfit", r2Dir)
      println(s"[probe-gate] llm_pack_bestfit x$r2 ok=$ok ($detail)")
      Seq(s""""llm_pack_bestfit_x$r2":{"gates_green":$ok,"gate_cols":"$detail"}""")
    } else Seq.empty
    val sentinelLast = math.min(sentinelPass(), sentinelPass())
    val contended = sentinelLast > 2.0 * sentinelFirst ||
      sentinelFirst > 2.0 * sentinelLast
    val allGreen = !(gateRows ++ gate30Rows)
      .exists(_.contains("\"gates_green\":false"))
    val note = "ratio = x" + r + " wall-clock / sf0.1 wall-clock (min of " +
      "3 passes each, shared JVM, scoped caches CLEARED before every " +
      "pass since r9 — Dedup's output-sized persists otherwise turn " +
      "reps 2-3 into cache reads; r8 rows for the tfidf family shared " +
      "warm weight caches across reps and read slightly low). " +
      "The reseeded corpus multiplies " +
      "DUPLICATE DENSITY as well as volume (every original becomes a " +
      "cluster of " + r + " near-dups), so pair-bound dedup operators " +
      "track true-pair growth (~" + (r * (r - 1) / 2) + "x pairs at " + r +
      "x rows), and a ratio near " + r + " still means at-most-linear " +
      "work in the DATA; fixed per-query overhead pulls cheap queries " +
      "well below it."
    val expNote = if (r2 > 0) " Steep-curve queries carry x" + r2 +
      "_sec and exponent = log(t_x" + r2 + "/t_x" + r + ")/log(" + r2 +
      "/" + r + ") — sub-1.0 means sub-linear in data volume even " +
      "though true pairs grow ~quadratically in replication; the " +
      "quadratic-baseline recall gates stay at x" + gateR +
      " by construction (their crossJoin validation twin, not the " +
      "production path, is what explodes past it)." else ""
    val json =
      s"""{"probe":"explode-and-reseed","replication":$r,"gate_replication":$gateR,"src":"$src","note":"$note$expNote","queries":{${rows.mkString(",")}},"gates":{${(gateRows ++ gate30Rows).mkString(",")}},"sentinel_first":${s3(sentinelFirst)},"sentinel_last":${s3(sentinelLast)},"contended":$contended,"passes":3,"all_gates_green":$allGreen}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
