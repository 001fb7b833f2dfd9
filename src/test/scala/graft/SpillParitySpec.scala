package graft

import graft.engine.QueryProfile
import graft.tools.MemProbe.contentHash

/** In-suite twin of the MemProbe artifact's "spill, never OOM, same
  * answer" contract: force the row-buffer spill surfaces Spark exposes
  * as SESSION-dynamic confs down to a few hundred rows — WindowExec /
  * SortMergeJoin external arrays, ObjectHashAggregate sort fallback, and
  * HashAggregate's controlled sort-based fallback
  * (`spark.sql.TungstenAggregate.testFallbackStartsAt`, the hook Spark's
  * own AggregationQuerySuite uses) — plus broadcast disabled so the join
  * queries actually route through SMJ, then assert each query's
  * order-insensitive content hash (MemProbe's) equals its default-conf
  * baseline.
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

  /** One query per spill surface (all hash-exact gated queries):
    * hash-agg fallback (dedup_exact, kneser_ney), WindowExec buffer
    * (events_dedup_window), sort+window (dedup_substring), SMJ spill with
    * broadcast off (tpch_q18 — every join routes through SMJ under
    * threshold −1). */
  private val targets = Seq(
    "llm_dedup_exact", "llm_lm_kneser_ney", "events_dedup_window",
    "llm_dedup_substring", "tpch_q18")

  /** The spec runs its queries at sf0.01 (not the suite-default sf0.001)
    * so real partitions cross the lowered thresholds. Threshold choice is
    * a balance, learned the hard way: the spill threshold bounds ROWS PER
    * SPILL FILE, and the sorter's merge phase opens every spill file with
    * ~MB read-ahead buffers — a first cut at 8/16 rows turned one large
    * window partition into thousands of spill files and OOM'd the JVM in
    * the spill READERS, which is the opposite of the contract under test.
    * 256/512 keeps file counts in the tens while still forcing the
    * in-memory→external-sorter handoff and real disk spills. */
  private val spillSf = "/root/testdata/sf0.01"
  private val tightConfs = Map(
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "256",
    "spark.sql.windowExec.buffer.spill.threshold" -> "512",
    "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "256",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "512",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "256",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "512",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    // (skipRows, fallbackStartsAtRows): hash-agg spills its map to a
    // sort-based merge every 1000 input rows per partition — the
    // controlled-fallback hook Spark's own AggregationQuerySuite uses.
    // Every fallback writes one spill file and the final merge opens them
    // all at once (~2 MB of read-ahead each): at 100 rows the kneser_ney
    // and tpch_q18 tasks merged up to 783 and 600 files and OOM'd a 4 GB
    // heap; at 1000 the worst task merges 79, and kneser_ney, tpch_q18
    // and dedup_substring still spill to disk
    "spark.sql.TungstenAggregate.testFallbackStartsAt" -> "2,1000",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("forced-spill confs leave every target query's content hash unchanged") {
    val saved = tightConfs.keys.map { k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption
    }.toMap
    try {
      val baseline = targets.map { n =>
        QueryProfile.cold(spark)
        n -> contentHash(SparkEntry.queries(n)(spark, spillSf))
      }
      tightConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val tight = QueryProfile.run(spark) {
        val mismatches = baseline.flatMap { case (n, want) =>
          QueryProfile.cold(spark)
          val got = contentHash(SparkEntry.queries(n)(spark, spillSf))
          if (got == want) None else Some(s"$n: baseline $want != tight $got")
        }
        assert(mismatches.isEmpty,
          s"hash parity broke under forced spill: ${mismatches.mkString("; ")}")
      }
      assert(tight.diskSpillBytes > 0,
        "forced-spill confs produced zero disk spill — the thresholds no " +
          "longer reach the external sorters (conf names drifted?)")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      QueryProfile.cold(spark)
    }
  }

  /** Parity under a pathological valve/batch conf, shared by the two
    * custom-kernel tests below: baseline hashes at default confs, then
    * the same queries with `confs` applied. */
  private def parityUnder(confs: Map[String, String],
                          names: Seq[String]): Unit = {
    val saved = confs.keys.map { k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption
    }.toMap
    try {
      val baseline = names.map { n =>
        QueryProfile.cold(spark)
        n -> contentHash(SparkEntry.queries(n)(spark, spillSf))
      }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val mismatches = baseline.flatMap { case (n, want) =>
        QueryProfile.cold(spark)
        val got = contentHash(SparkEntry.queries(n)(spark, spillSf))
        if (got == want) None else Some(s"$n: baseline $want != forced $got")
      }
      assert(mismatches.isEmpty,
        s"hash parity broke: ${mismatches.mkString("; ")}")
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

  test("multimodal batch seam (batchSize forced to 3) leaves " +
    "llm_image_dedup and llm_multimodal_features hashes unchanged") {
    // 3-payload batches: ~85x more decoder invocations than the 256
    // default — batch boundaries must never change decode results or
    // downstream dedup (the mapPartitions seam is the one custom kernel
    // the MemProbe battery's spill surfaces don't cover)
    parityUnder(Map("spark.graft.multimodal.batchSize" -> "3"),
      Seq("llm_image_dedup", "llm_multimodal_features"))
  }
}
