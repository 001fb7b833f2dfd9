package graft

import graft.engine.QueryProfile
import graft.tools.MemProbe.contentHash

/** In-suite twin of the MemProbe artifact's "spill, never OOM, same
  * answer" contract: force the row-buffer spill surfaces Spark exposes
  * as SESSION-dynamic confs down to tens or hundreds of rows — WindowExec
  * / SortMergeJoin external arrays, ObjectHashAggregate sort fallback, and
  * HashAggregate's controlled sort-based fallback
  * (`spark.sql.TungstenAggregate.testFallbackStartsAt`, the hook Spark's
  * own AggregationQuerySuite uses) — plus broadcast disabled so the join
  * queries actually route through SMJ, then assert each query's
  * order-insensitive content hash (MemProbe's) equals its default-conf
  * baseline and each query wrote disk spill.
  *
  * MEMPROBE_r08/r09 prove the same contract empirically at 10-30x volume
  * under a 3 GB heap; this spec pins the spill CODE PATHS (external
  * sorter handoff, fallback merge, SMJ buffer eviction) in CI at
  * sf0.01 cost, so a future operator edit that breaks sort-fallback
  * determinism (e.g. an agg that assumes hash-map iteration order, or a
  * window frame that misbehaves across a buffer spill boundary) fails a
  * unit test instead of a once-a-round probe.
  *
  * Safe to mutate session confs here: Test/fork is on and forked suites
  * run sequentially (sbt testForkedParallel defaults to false); every
  * conf is restored in a finally.
  */
class SpillParitySpec extends SparkSpec {

  /** Hash-exact gated queries, each of which writes disk spill under
    * [[tightConfs]] at sf0.01. Measured one surface's confs at a time, with
    * the most spill files one task writes in brackets (a one-split scan's
    * partial and final aggregates share one task, so a task can hold two
    * spilling sorters):
    *  - llm_lm_kneser_ney, tpch_q18, llm_dedup_substring: hash-agg
    *    fallback (132, 75, 2). tpch_q18's SMJ buffers hold at most 7 rows
    *    per order key, below any threshold here.
    *  - llm_dedup_minhash: hash-agg fallback (54) and the SMJ buffer of
    *    its candidate joins (25).
    *  - op_window_analytic: the WindowExec buffer (6), with lag/lead and
    *    growing first/last/nth_value frames read across the spill files.
    * No gated query writes disk spill through the ObjectHashAggregate
    * fallback or a session window buffer at sf0.01: those confs stay for
    * hash parity only. */
  private val targets = Seq(
    "llm_lm_kneser_ney", "tpch_q18", "llm_dedup_substring",
    "llm_dedup_minhash", "op_window_analytic")

  /** The spec runs its queries at sf0.01 (not the suite-default sf0.001)
    * so real partitions cross the lowered thresholds. Threshold choice is
    * a balance, learned the hard way: the spill threshold bounds ROWS PER
    * SPILL FILE, and the sorter's merge phase opens every spill file with
    * ~MB read-ahead buffers — a first cut at 8/16 rows turned one large
    * window partition into thousands of spill files and OOM'd the JVM in
    * the spill READERS, which is the opposite of the contract under test.
    * The window buffer spills every 128 rows, so op_window_analytic's
    * ~380-row return-flag partitions spill; the SMJ buffer every 32 rows,
    * so only the dedup candidate joins' shared buckets spill. */
  private val spillSf = "/root/testdata/sf0.01"
  private val tightConfs = Map(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
    "spark.sql.windowExec.buffer.spill.threshold" -> "128",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "256",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "512",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "16",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "32",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    // (skipRows, fallbackStartsAtRows): hash-agg spills its map to a
    // sort-based merge every 1000 input rows per partition — the
    // controlled-fallback hook Spark's own AggregationQuerySuite uses.
    // Every fallback writes one spill file and the final merge opens them
    // all at once (~2 MB of read-ahead each): at 100 rows the kneser_ney
    // and tpch_q18 tasks merged up to 783 and 600 files and OOM'd a 4 GB
    // heap; at 1000 the worst task writes 132
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "2,1000",
    // both thresholds: AQE re-plans a shuffle join whose side is under
    // its own threshold as a broadcast, so the static one alone leaves
    // the joins broadcast and the SMJ buffers unused
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  test("forced-spill confs leave every target query's content hash unchanged") {
    val profiles = parityUnder(tightConfs, targets)
    val silent = targets.filter(n => profiles(n).diskSpillBytes == 0)
    assert(silent.isEmpty,
      s"forced-spill confs produced zero disk spill for ${silent.mkString(", ")}" +
        " — the thresholds no longer reach their external sorters " +
        "(conf names drifted, or the query's plan changed?)")
  }

  /** [[tightConfs]]' SMJ buffer thresholds alone, with broadcast off so
    * the joins stay sort-merge joins. */
  private val smjConfs = tightConfs.filter { case (k, _) =>
    k.startsWith("spark.sql.sortMergeJoinExec.") ||
      k.endsWith("autoBroadcastJoinThreshold")
  }

  test("the SMJ buffer alone spills llm_dedup_minhash's candidate joins") {
    // the test above sums every surface's spill per query, so a minhash
    // query whose hash-agg fallback spills would pass it even with the SMJ
    // buffer silent; this one pins the SMJ surface on its own
    val profile = parityUnder(smjConfs, Seq("llm_dedup_minhash"))
    assert(profile("llm_dedup_minhash").diskSpillBytes > 0,
      "the SMJ buffer thresholds no longer reach llm_dedup_minhash's " +
        "sort-merge joins (conf names drifted, or its joins stopped " +
        "being sort-merge joins?)")
  }

  /** Parity under forced confs: baseline hashes at default confs, then the
    * same queries with `confs` applied, each profiled on its own. */
  private def parityUnder(confs: Map[String, String], names: Seq[String])
      : Map[String, QueryProfile.Profile] = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      val baseline = names.map { n =>
        QueryProfile.cold(spark)
        n -> contentHash(SparkEntry.queries(n)(spark, spillSf))
      }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val forced = baseline.map { case (n, want) =>
        QueryProfile.cold(spark)
        var got = 0L
        val profile = QueryProfile.run(spark) {
          got = contentHash(SparkEntry.queries(n)(spark, spillSf))
        }
        (n, want, got, profile)
      }
      val mismatches = forced.collect {
        case (n, want, got, _) if got != want =>
          s"$n: baseline $want != forced $got"
      }
      assert(mismatches.isEmpty,
        s"hash parity broke: ${mismatches.mkString("; ")}")
      forced.map { case (n, _, _, profile) => n -> profile }.toMap
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      QueryProfile.cold(spark)
    }
  }

  test("GroupedTopKExec valve path (maxGroupsPerPartition forced to a few " +
    "groups) leaves op_grouped_topk and llm_domain_cap hashes unchanged") {
    // 4 groups per partition: the partial phase flushes its heaps in many
    // bounded batches and the final phase routes through the spillable
    // external sort — the r9-verdict gap: the valve (GroupedTopK.scala's
    // overflow path) had no in-CI pressure test, only the 1M-default fast
    // path which sf-scale data never overflows
    parityUnder(Map("spark.graft.topk.maxGroupsPerPartition" -> "4"),
      Seq("op_grouped_topk", "llm_domain_cap"))
  }

  test("parityUnder leaves an unset optional conf unset") {
    // an optional conf with no value reads back as null from
    // `spark.conf.get`; saving that and setting it back throws
    val k = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(k)
    spark.conf.unset(k)
    try {
      parityUnder(Map(k -> "-1"), Seq("tpch_q6"))
      assert(spark.conf.getOption(k).isEmpty,
        s"$k was restored as ${spark.conf.getOption(k)}")
    } finally prev.foreach(spark.conf.set(k, _))
  }
}
