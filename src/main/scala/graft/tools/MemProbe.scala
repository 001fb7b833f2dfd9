package graft.tools

import graft.engine.QueryProfile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Memory-pressure probe: run the heaviest scale-probe queries on the
  * 10x corpus under a CONSTRAINED execution-memory budget so the spill
  * paths a 100 TB job depends on actually engage — hash-agg spill,
  * sort/WindowExec spill, the GroupedTopK per-partition valve — and
  * prove the contract "spill, never OOM, same answer":
  *  - per query: wall-clock, bytes spilled (memory + disk), peak
  *    execution memory and task JVM GC time (from QueryProfile), and an
  *    ORDER-INSENSITIVE [[contentHash]] of the full result;
  *  - run twice by the harness: `normal` (the usual 8g heap / default
  *    spark.memory.fraction) and `tight` (small heap via
  *    SPARK_DRIVER_MEM + fraction 0.2). The merged artifact asserts
  *    hash(tight) == hash(normal) per query, spill > 0 under tight,
  *    and zero OOMs.
  *
  * Usage: runMain graft.tools.MemProbe <outJson> <dataDir> <mode> [cores]
  * (mode = normal | tight; heap set by the caller via SPARK_DRIVER_MEM.
  * `cores` defaults to 32; the tight run should pass a PRODUCTION-SHAPED
  * core count — a real executor holds ~1 core per 1-4 GB, so probing
  * "3 GB heap" with 32 concurrent tasks models a cluster nobody runs
  * and OOMs on per-task object churn, not on any operator's working
  * set.)
  */
object MemProbe {

  /** The 12 heaviest x10 probe queries (by BENCH_SCALE_r07 x10_sec),
    * biased to cover every spill surface: hash-agg (dedup_exact,
    * kneser_ney), sort + WindowExec (dedup_substring,
    * events_dedup_window), shuffle sort (tfidf/prefix/minhash pair
    * generation), GroupedTopK's bounded-heap valve (domain_cap), and
    * the iterative-join family (hits). */
  private[tools] val targets = Seq(
    "llm_tfidf_pairs", "llm_dedup_prefix", "llm_semantic_dedup_ivf",
    "llm_dedup_minhash", "llm_dedup_substring", "llm_bpe_encode",
    "llm_winnow", "llm_hits", "llm_lm_kneser_ney",
    "events_dedup_window", "llm_domain_cap", "llm_dedup_exact")

  /** Order-insensitive content hash of a result: the sum of per-row
    * xxhash64 over the canonical JSON of the name-sorted columns, so it is
    * partitioning- and config-independent for the deterministic gated
    * queries (pmod before the sum: ANSI mode would overflow a raw sum). */
  private[graft] def contentHash(df: DataFrame): Long = {
    val cols = df.columns.sorted.map(col).toSeq
    val h = df
      .select(pmod(xxhash64(to_json(struct(cols: _*))), lit(1000000007L))
        .as("__h"))
      .agg(sum(col("__h"))).head()
    if (h.isNullAt(0)) 0L else h.getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val outJson = args(0)
    val dataDir = args(1)
    val mode = args(2)
    val cores = if (args.length > 3) args(3).toInt else 32
    require(mode == "normal" || mode == "tight", s"bad mode $mode")
    // SPARK_GRAFT_MASTER=local-cluster[...] reruns the battery with
    // multi-process executors: the content hashes must match the local[]
    // run — multi-process SHUFFLE at 10x volume returning identical answers.
    val master =
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val builder = graft.engine.Context.builder(master, 32)
      // local-cluster executors default to 1g; SPARK_GRAFT_EXEC_MEM
      // sizes them like a real executor (the worker memory in the
      // master string is a capacity cap, not the executor size)
      .config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "1g"))
    val spark = (if (mode == "tight") {
      // squeeze the unified-memory region: execution+storage get 20% of
      // a heap the caller already shrank via SPARK_DRIVER_MEM. 32
      // concurrent tasks then get a few MB of execution memory each on
      // the 10x corpus — every hash agg and sort past that MUST spill.
      builder.config("spark.memory.fraction", "0.2")
        // Spill-merge reader fan-in (learned at x30): with ~150 MB of
        // execution memory per task a tens-of-GB aggregate spills
        // hundreds of files, and the merge opens ALL of them at once —
        // each with a 1 MiB ON-HEAP NIO buffer PLUS a second 1 MiB
        // read-ahead buffer and its prefetch thread. The READERS, not
        // the operator, OOM a 3 GB heap (the reader buffer size conf has
        // a hard 1 MiB floor, so the memory lever is read-ahead off —
        // the documented trade of prefetch throughput for halved,
        // thread-free reader memory on memory-starved executors).
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        // memory-starved executors want ADVISORY-sized (64 MB) reduce
        // partitions, not parallelism-first coalescing: with 8 cores the
        // default rule targets totalBytes/8 per partition — a 15 GB pair
        // shuffle at x30 would land 1.9 GB on each ~75 MB-budget task and
        // rebuild the spill fan-in this probe exists to bound
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
          "false")
    } else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // probes that target a scale-probe corpus synthesize it on demand
    // (the driver may clean target/ between rounds; the synth is
    // deterministic so a rebuilt corpus hashes identically)
    // stripSuffix: a trailing separator would otherwise defeat the $-anchored
    // match, silently skip synthesis, and fail later on missing parquet files
    val synthR = "x(\\d+)$".r
      .findFirstMatchIn(dataDir.stripSuffix("/")).map(_.group(1).toInt)
    if (dataDir.contains("scale-probe") && synthR.nonEmpty &&
        !new java.io.File(dataDir, "_PROBE_READY").exists()) {
      val src =
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      println(s"[memprobe] synthesizing x${synthR.get} corpus at $dataDir")
      ScaleProbe.synth(spark, src, dataDir, synthR.get)
    }

    def s3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // optional 5th+ args: restrict to named queries (re-probe aid)
    val only = args.drop(4).toSet

    // warmup (JIT the plan shapes at negligible data cost)
    val warm = "/root/testdata/sf0.001"
    targets.filter(n => only.isEmpty || only(n)).foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warm)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    val rows = targets.filter(n => only.isEmpty || only(n)).map { n =>
      // r9: drop scoped caches left by the previous query — under the
      // tight budget a stale MEMORY_AND_DISK posting table competes with
      // this query's execution memory and distorts its spill reading
      // (within-query persists are the operator's own design and stay)
      QueryProfile.cold(spark)
      // collect the dropped blocks before measuring: under the tight
      // budget a pending collection otherwise counts against this query's
      // gc_sec and distorts the spill-vs-GC attribution
      System.gc()
      val fn = graft.SparkEntry.queries(n)
      var sec = 0.0
      var outcome: Either[Throwable, Long] = null
      // task-attributed JVM GC time (gc_sec): under the tight budget this
      // separates "slow because spilling to disk" from "slow because the
      // collector is thrashing a too-small heap" (the r8 BPE-encode 2.4x
      // question)
      val prof = QueryProfile.run(spark) {
        val t0 = System.nanoTime()
        outcome =
          try Right(contentHash(fn(spark, dataDir)))
          catch { case e: Throwable => Left(e) }
        sec = (System.nanoTime() - t0) / 1e9
      }
      outcome match {
        case Right(hash) =>
          val sm = prof.memorySpillBytes; val sd = prof.diskSpillBytes
          val pe = prof.peakExecBytes; val gc = prof.gcMs / 1e3
          println(f"[memprobe:$mode] $n%-26s ${sec}%7.2fs  spillMem ${sm / 1e6}%9.1fMB  spillDisk ${sd / 1e6}%9.1fMB  peakExec ${pe / 1e6}%8.1fMB  gc ${gc}%6.2fs  hash $hash")
          s""""$n":{"sec":${s3(sec)},"hash":"$hash","spill_mem_mb":${s3(sm / 1e6)},"spill_disk_mb":${s3(sd / 1e6)},"peak_exec_mb":${s3(pe / 1e6)},"gc_sec":${s3(gc)},"oom":false}"""
        case Left(e) =>
          // an executor-thread OOM often surfaces wrapped in a generic
          // SparkException (INTERNAL_ERROR / stage-failure text) with no
          // OutOfMemoryError in the cause CHAIN — check message text too
          // the message-text heuristic can false-positive on errors that
          // merely QUOTE an earlier OOM — acceptable for a probe (an OOM
          // flag triggers a manual look either way); the walk is bounded
          // because a cyclic getCause chain would otherwise hang the probe
          val oom = {
            var c: Throwable = e; var found = false; var depth = 0
            while (c != null && !found && depth < 20) {
              found = c.isInstanceOf[OutOfMemoryError] ||
                (c.getMessage != null &&
                  (c.getMessage.contains("OutOfMemoryError") ||
                    c.getMessage.contains("Java heap space")))
              c = c.getCause; depth += 1
            }
            found
          }
          println(s"[memprobe:$mode] $n FAILED oom=$oom: ${e.getMessage}")
          s""""$n":{"sec":${s3(sec)},"error":true,"oom":$oom}"""
      }
    }
    val json =
      s"""{"mode":"$mode","heap":"${Runtime.getRuntime.maxMemory / (1 << 20)}m","cores":$cores,"data":"$dataDir","queries":{${rows.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
