package graft

import graft.engine.QueryProfile

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced through the noop sink — full materialization of
  * every operator (a bare count() would let Catalyst prune projections and
  * under-measure). One trivial warmup action first so session/codegen
  * startup cost isn't billed to the first query.
  */
object Bench {

  /** Headline set: the full TPC-H-shaped suite (the reference's published
    * workload) plus the heaviest LLM-pipeline operators. private[graft]:
    * SparkEntrySpec asserts every name resolves — a typo here would
    * otherwise silently drop the query from the measurement. */
  private[graft] val headline: Seq[String] =
    (1 to 22).map(i => s"tpch_q$i") ++ Seq(
      "llm_text_stats", "llm_fingerprint_groups", "llm_dedup_exact",
      "llm_dedup_ngram", "llm_dedup_minhash", "llm_dedup_simhash",
      "llm_embed_topk", "llm_embed_ivf_topk", "llm_embed_ann_pairs",
      "llm_pipeline_curate",
      // round-3 additions: temporal joins + curation passes
      "op_asof_join", "op_range_join", "llm_repetition",
      "llm_embed_quantize", "llm_sample_stratified", "llm_decontaminate",
      "llm_chunking", "llm_bm25", "llm_pack_sequences",
      "llm_embed_quantized_topk",
      // round-3 additions: lossless prefix-filtered jaccard vs the capped
      // ngram path (same answer, different pruning), winnowing, span-level
      // dedup, mixture balancing, epoch shuffle, semantic dedup
      "llm_dedup_prefix", "llm_winnow", "llm_dedup_spans",
      "llm_balance_mix", "llm_epoch_shuffle", "llm_semantic_dedup_ivf",
      "llm_lm_score", "llm_lm_bigram", "llm_pipeline_curate_v2",
      // round-3 additions: asymmetric/weighted lexical similarity, corpus
      // novelty, edit-distance verify, the Gopher battery, incremental
      // dedup, and label-centroid purity
      "llm_dedup_containment", "llm_novelty", "llm_tfidf_pairs",
      "llm_dedup_edit", "llm_gopher_filters", "llm_dedup_incremental",
      "llm_embed_label_purity", "llm_corpus_report", "llm_vocab_coverage",
      "llm_distinct_sketch", "events_dedup_window", "llm_split_leakage",
      "llm_dedup_survivors_best",
      // round-4 additions: real media-header parsing, bloom-prefiltered
      // incremental dedup, deflate-ratio scoring, PQ/ADC ANN with exact
      // rescore, IVF persistence round-trip, temperature mixing, A-ES
      // weighted sampling
      "llm_multimodal_headers", "llm_dedup_bloom", "llm_compress_ratio",
      "llm_embed_pq_recall", "llm_embed_ivf_persist",
      "llm_temperature_mix", "llm_weighted_sample", "llm_shard_write",
      "llm_ccnet_buckets", "llm_bpe_encode", "llm_heavy_hitters",
      // round-5 additions: REAL image decode (ImageIO pixel stats), the
      // resample round trip, lossy-JPEG cross-check, and perceptual dHash
      // near-dup detection
      "llm_multimodal_features", "llm_image_resize", "llm_image_jpeg",
      "llm_image_dedup", "llm_image_survivors", "llm_audio_stats",
      "llm_image_knn", "llm_audio_dedup", "llm_multimodal_dedup",
      "llm_media_health", "llm_hybrid_retrieval",
      // round-6 additions: DSIR importance resampling, CCNet segment
      // dedup, Unicode normalization, the skew-salted join, snapshot diff
      "llm_dsir_select", "llm_dedup_lines", "llm_normalize",
      "llm_salted_join", "llm_snapshot_diff", "llm_hard_negatives",
      "llm_hard_negatives_ivf", "llm_bucketed_join",
      "llm_url_dedup", "llm_bitext_mine", "llm_lm_kneser_ney",
      "llm_quality_classifier",
      // round-6 web suite: link-graph analytics, WET extraction, domain
      // capping, interval-overlap join
      "llm_pagerank", "llm_link_stats", "llm_domain_cap",
      "llm_html_extract", "op_interval_join", "llm_collocations",
      "llm_keywords", "llm_pack_bestfit", "llm_trustrank",
      "llm_pipeline_web", "llm_hits", "llm_phrase_search",
      "llm_token_entropy", "llm_pipeline_incremental",
      "events_resample", "llm_length_outliers", "llm_corpus_kl",
      "llm_mojibake", "op_asof_nearest", "llm_semantic_decontaminate",
      // round-7 addition: exact-substring dedup at arbitrary alignment
      "llm_dedup_substring",
      // round-8 addition: mass-ratio-selected TF-IDF pair path (the
      // pre-flight statistic + whichever exact path it picks)
      "llm_tfidf_pairs_auto")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.engine.Context.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: run every headline query once at the smallest SF. Spark keeps
    // each compiled whole-stage class in a JVM-wide cache keyed by its
    // generated source, sized by Context.sessionConf to hold every headline
    // class, so plan shapes that recur at the target SF are not compiled
    // again; the pass also JITs the operator code at negligible data cost
    // (first-run JIT otherwise dominates the heavy dedup plans by 3-5×).
    // Shapes AQE plans differently at the target SF compile in the first
    // measured pass, which the min over passes discards.
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    headline.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }

    // Measured passes per query, report the min: the first target-SF run
    // still pays residual JIT (C2 compilation of the big whole-stage-codegen
    // functions) and page-cache warming, which otherwise drowns the
    // round-over-round perf signal in noise. Three passes for every query:
    // cheap queries need the third because the box's ~±0.4s wobble is a
    // large fraction of their readings, and the heaviest queries need it
    // because min-of-2 is exactly where one contended pass distorts the
    // minimum most.
    val basePasses = 3

    // Contention sentinel: a fixed cheap query (tpch_q6 — one scan + one
    // agg, stable plan) timed immediately before and after the measured
    // set. On a quiet box the two readings agree; if external CPU pressure
    // arrives mid-run the tail reading inflates, and the artifact flags
    // itself as contended instead of masquerading as a regression (the r3
    // artifact recorded 23s for a 0.43s query this way).
    def sentinelPass(): Double = {
      val fn = SparkEntry.queries("tpch_q6")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val sentinelFirst = { sentinelPass(); math.min(sentinelPass(), sentinelPass()) }

    // Reference guard (r10): the in-run dispersion guard below cannot see a
    // host burst that covers ALL of a query's passes (the r9 adjudication's
    // blind spot — tpch_q11 read 2.29 s in one full run and 0.86 s in the
    // next with zero code change). Committed best-of-N per-query references
    // (BENCH_REF.json, regenerated from each round's BENCH_LOCAL artifact)
    // give an absolute yardstick: a heavy query whose min-of-3 still reads
    // >1.5x its reference takes 2 extra passes before reporting. Skipped
    // silently when the file is absent or was measured at a different SF
    // or CORE COUNT (the references are sf- and cpu-specific: the driver
    // also benches at a lower core count to measure scaling, where every
    // heavy query legitimately reads >1.5x its 32-core reference — firing
    // the guard there would add two useless passes per query and balloon
    // the low-core run), so the driver contract is unchanged; a genuine
    // regression still surfaces — extra passes on a quiet host converge
    // to the same slow reading, now with more evidence behind it.
    val refs: Map[String, Double] = try {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val sfOk = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .forall(_.group(1) == sfDir)
      // cpus gate (r11, per ADVICE): the reference file MUST carry a cpus
      // field matching this run's core count — `.exists`, not `.forall`, so
      // a cpus-less (pre-r10/custom) file never fires the guard on a
      // low-core scaling run.
      val cpusOk = "\"cpus\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(txt)
        .exists(_.group(1).toInt == cpus)
      if (!sfOk || !cpusOk) Map.empty
      else "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

    val results = headline.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        // every pass from COLD caches (r9), so reps 2+ cannot read rep 1's
        // output-sized persists and no query reads a neighbour's warm
        // tables: each row is the query's solo cold cost (r8 and earlier
        // tfidf-family rows shared warm weight caches and read slightly low)
        def onePass(): Double =
          try QueryProfile.pass(spark)(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
        val first = onePass()
        val base = first +: (2 to basePasses).map(_ => onePass())
        // Fast tail (min < 300 ms): JVM/scheduler wobble is a large
        // fraction of the reading, and min-of-3 still jitters round over
        // round — take 2 extra passes and report the MEDIAN of 5, which
        // a single fast-or-slow outlier cannot move. Heavier queries
        // keep min-of-3 (comparable with prior rounds; the min is the
        // uncontended reading there).
        val fastTail = base.forall(_ >= 0) && base.min < 0.3
        // Burst guard (r9): the round-9 host shows intermittent
        // multi-minute external slowdown bursts that can straddle all 3
        // of a heavy query's passes (observed: tpch_q11 min-of-3 reading
        // 2.29 s in one run and 0.86 s in the next, zero code change) —
        // invisible to the before/after sentinel. High dispersion across
        // the base passes is the in-run fingerprint of a burst edge, so
        // a heavy query whose max/min spread exceeds 1.8 takes 2 extra
        // passes before reporting the min; a genuinely stable reading
        // never pays them.
        val burstSuspect = !fastTail && base.forall(_ >= 0) &&
          base.max / math.max(base.min, 1e-9) > 1.8
        // Reference guard (r10): an all-pass-straddling burst shows LOW
        // dispersion — the committed reference is the only signal that
        // every pass was inflated. Fires only on heavy queries with a
        // reference at this SF.
        val refSuspect = !fastTail && !burstSuspect && base.forall(_ >= 0) &&
          refs.get(name).exists(r => r > 0 && base.min > 1.5 * r)
        val times =
          if (fastTail || burstSuspect || refSuspect)
            base ++ Seq(onePass(), onePass())
          else base
        val value =
          if (!times.forall(_ >= 0)) -1.0
          else if (fastTail) times.sorted.apply(times.size / 2)
          else times.min
        // estimator tag, carried into bench_full.json so cross-round
        // per-query comparisons know which statistic they're reading:
        // "m" = median-of-5 (fast tail), "n" = min-of-3 (heavy);
        // guard tag: which re-pass trigger fired ("" = none)
        val guard = if (burstSuspect) "burst" else if (refSuspect) "ref"
          else ""
        name -> (value, times.size, if (fastTail) "m" else "n", guard)
      }
    }
    // The driver captures only the LAST 2000 bytes of stdout (measured from
    // the BENCH_r05 artifact), and the sbt success trailer after this line
    // eats ~70 of them. Round-5's full-fidelity line overflowed that budget
    // and the artifact landed with parsed:null; at 117 headline queries a
    // complete per-query map (~2.9 KB) would again. Keep the line under the
    // budget deterministically: every TPC-H query individually (the
    // BASELINE.md comparison set), then the heaviest remaining queries in
    // descending time until the map nears the byte budget, and the cheap
    // tail aggregated as others_sec/others_n. Full-fidelity results go to
    // target/bench_full.json (and the committed BENCH_LOCAL artifacts).
    // Locale.ROOT: the f"" interpolator uses the JVM default locale — a
    // comma-decimal locale would emit invalid JSON on the contract line
    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = {
      val (tpch, rest) = results.partition(_._1.startsWith("tpch_"))
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      tpch.foreach { case (k, (v, _, _, _)) =>
        entries += "\"" + k + "\":" + s3(v) }
      var bytes = entries.map(_.length + 1).sum
      var others = 0
      var othersSec = 0.0
      rest.sortBy { case (_, (v, _, _, _)) => -v }
          .foreach { case (k, (v, _, _, _)) =>
        val e = "\"" + k + "\":" + s3(v)
        if (bytes + e.length + 1 <= 1150) { entries += e; bytes += e.length + 1 }
        else { others += 1; othersSec += math.max(v, 0.0) }
      }
      entries += "\"others_sec\":" + s3(othersSec)
      entries += "\"others_n\":" + others
      entries.mkString("{", ",", "}")
    }
    // stable shape: "passes" is ALWAYS the single int (the minimum); the
    // fast-tail median-of-5 queries are summarized as one count (a full
    // per-query pass map would add ~2.5 KB and push the line's HEAD out
    // of the driver's 2000-byte tail capture — exactly the failure the
    // byte budget exists to prevent; per-query counts live in
    // target/bench_full.json and the committed BENCH_LOCAL artifacts)
    val passVals = results.map(_._2._2)
    val ps = if (passVals.isEmpty) "0" else passVals.min.toString
    val psByQuery =
      if (passVals.distinct.size <= 1) ""
      else ",\"passes_fast\":" + passVals.max +
        ",\"fast_n\":" + passVals.count(_ == passVals.max)
    val total = results.collect { case (_, (v, _, _, _)) if v >= 0 => v }.sum
    val refGuardN = results.count(_._2._4 == "ref")
    val sentinelLast = math.min(sentinelPass(), sentinelPass())
    val contended =
      sentinelLast > 2.0 * sentinelFirst || sentinelFirst > 2.0 * sentinelLast
    val line =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","queries":$qs,"passes":$ps$psByQuery,"ref_guard_n":$refGuardN,"sentinel_first":${s3(sentinelFirst)},"sentinel_last":${s3(sentinelLast)},"contended":$contended,"cpus":$cpus,"sf":"$sfDir"}"""
    val full = results.map { case (k, (v, p, est, guard)) =>
      "\"" + k + "\":{\"sec\":" + v + ",\"passes\":" + p +
        ",\"est\":\"" + est + "\",\"guard\":\"" + guard + "\"}"
    }.mkString("{", ",", "}")
    try {
      val dir = new java.io.File("target"); dir.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(dir, "bench_full.json"))
      try w.println(s"""{"queries":$full,"sentinel_first":$sentinelFirst,"sentinel_last":$sentinelLast,"sf":"$sfDir","note":"est m=median-of-5 (fast tail, sub-300ms min; since r7), n=min-of-3 (heavy). Cross-round per-query deltas are only comparable within the same est tag; r6 and earlier reported min for all queries."}""")
      finally w.close()
    } catch { case _: Throwable => () }
    // Stop the session BEFORE emitting the contract line: Spark's shutdown
    // logging would otherwise land after it and push it out of the
    // driver's fixed-size tail capture.
    spark.stop()
    // The driver's extractor reads the process output tail; sbt's default
    // output strategy re-logs forked-run output with "[info] "/"[error] "
    // prefixes (the r6 line survived the tail but arrived prefixed — the
    // most likely reason the driver recorded parsed:null), so build.sbt
    // sets run/outputStrategy := StdoutOutput and the line below lands
    // BARE on the real process stdout via FileDescriptor.out, as the last
    // thing this process writes. ONE copy only: the tail window must hold
    // the full line plus sbt's ~72-byte success trailer, and the query
    // map's byte budget above is sized so line + trailer < 2000 bytes
    // with margin.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    rawOut.println(line)
    rawOut.flush()
  }
}
