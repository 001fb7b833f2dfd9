package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale tooling for the 100 TB deployment shape: skew-salted joins and
  * bucketed co-located joins. AQE's runtime skew-join splitting handles
  * moderate skew automatically; these are the explicit knobs for the cases
  * the planner can't see (pre-known hot keys, reused join keys across many
  * queries).
  */
object Scale {

  /** Pin a MINIMUM parallelism under a compute-amplified stage (quadratic
    * pair scoring, per-row hash/explode fan-out). A tiny input — one
    * single-row-group parquet file under the scan split floor — plans as
    * ONE task, and the downstream per-row amplification (a cosine per
    * ordered pair, an md5 per gram instance) serializes on one core while
    * the rest of the executor idles; byte-based split sizing cannot see
    * compute amplification (guide §2.5 input-parallelism: "fix at the
    * source if you can; otherwise repartition immediately after the
    * read"). Measured r11 at sf0.1/local[32]: llm_hard_negatives'
    * 2M-cosine exact-pair scan ran as a single 1.6 s task; the dsir gram
    * stream (1M md5s) as a single 1.2 s task — both with 31 idle cores.
    *
    * Repartitions by hash of `byCol` to the session's default parallelism
    * ONLY when the input plans fewer partitions: at real scale the scan
    * already exceeds it and this is a NO-OP (no shuffle, plan unchanged),
    * so the pin can never cap cluster parallelism — it is scale-adaptive
    * by construction, not a local[32] constant. Hash-by-column keeps each
    * key's rows co-located, so per-key float aggregations keep their
    * single-partition summation order (oracle determinism). */
  def minParallel(df: DataFrame, byCol: String): DataFrame = {
    // Non-adaptive inputs ONLY: reading .rdd.getNumPartitions of an
    // adaptive plan would materialize its AQE query stages (i.e. eagerly
    // run jobs at construction). The executed plan is adaptive when it
    // has an exchange or an operator that requires a distribution (an
    // aggregate, window, join or sort) — including the exchanges
    // EnsureRequirements inserts, which the pre-exchange `sparkPlan` does
    // not show yet. Such an input is returned unchanged. Usually AQE then
    // governs its width; over a one-split scan
    // (graft.plans.SingleSplitScanExec) nothing shuffles and the width
    // stays 1. No gated call site (exactPairs, multiProbeAssignments,
    // bitextMine, hashedGramBuckets) falls in that case at sf0.01: all
    // 14 calls of a Verify pass get a non-adaptive one-partition input
    // (a scan, filter or projection) and repartition it.
    val adaptive = df.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (adaptive || df.rdd.getNumPartitions >= n) df
    else df.repartition(n, col(byCol))
  }

  /** Deterministic sharded output — the training-data writer contract: the
    * corpus lands as range-partitioned parquet where (a) shard files carry
    * disjoint, ordered key ranges (file-level min/max stats make key-range
    * reads prune whole files), (b) no file exceeds `maxRecordsPerFile`
    * (bounded downstream loader memory), and (c) layout is a pure function
    * of the data (same input ⇒ same shards, any cluster).
    *
    * One count job sizes the shard count; repartitionByRange samples the
    * key (correctness never depends on the sample — it only balances
    * shards; maxRecordsPerFile is the hard per-file cap the writer
    * enforces), and sortWithinPartitions gives within-file ordering, so
    * the global order is (file range order, in-file order). */
  def writeSharded(df: DataFrame, path: String,
                   orderKey: org.apache.spark.sql.Column,
                   maxRecordsPerFile: Int): Unit = {
    require(maxRecordsPerFile > 0, s"maxRecordsPerFile=$maxRecordsPerFile")
    val n = df.count()
    val shards = math.max(1L, (n + maxRecordsPerFile - 1) /
      maxRecordsPerFile).toInt
    df.repartitionByRange(shards, orderKey)
      .sortWithinPartitions(orderKey)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .mode("overwrite")
      .parquet(path)
  }

  /** Distributed prefix sum (inclusive running total) over a total order —
    * WITHOUT the single-partition global window that
    * `Window.orderBy(...)` with no partition key degenerates to (the
    * classic scale trap for cumulative aggregates).
    *
    * Three bounded steps:
    *  1. approximate quantiles of the order key define `buckets` ranges —
    *     any boundary set is CORRECT (buckets only have to respect the
    *     order); quantile accuracy only balances bucket sizes;
    *  2. per-bucket totals → bucket offsets via a window over the
    *     buckets-row aggregate (rows = `buckets`, so the single-partition
    *     window there is over a fixed-size set at any data scale);
    *  3. per-bucket local running sum (partitioned window) + offset.
    *
    * `orderKey` must be numeric and UNIQUE per row (encode composite
    * orders into a surrogate, e.g. `rank * 2^40 + id`); uniqueness makes
    * the running total deterministic and RANGE/ROWS frames equivalent. */
  def prefixSum(df: DataFrame, orderKey: org.apache.spark.sql.Column,
                valueCol: org.apache.spark.sql.Column, outCol: String,
                buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 1, s"buckets=$buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val boundsRow = df
      .agg(percentile_approx(orderKey.cast("double"),
        typedLit(probs), lit(10000)).as("b"))
      .head()
    // empty input → null percentiles → single empty bucket (still correct)
    val bounds =
      if (boundsRow.isNullAt(0)) Seq.empty[Double]
      else boundsRow.getSeq[Double](0)
    // bucket = number of boundaries strictly below the key: equal keys land
    // in equal buckets, bucket ranges follow the order
    val bucketCol = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(orderKey.cast("double") > lit(b), 1).otherwise(0)
    }
    val withB = df.withColumn("__b", bucketCol)
    val offsets = withB.groupBy(col("__b"))
      .agg(sum(valueCol).as("__s"))
      .withColumn("__off",
        coalesce(sum(col("__s")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .select(col("__b"), col("__off"))
    val local = Window.partitionBy(col("__b")).orderBy(orderKey)
    withB.join(broadcast(offsets), Seq("__b"))
      .withColumn(outCol, sum(valueCol).over(local) + col("__off"))
      .drop("__b")
  }

  /** Skew-salted equi-join: the big (skewed) side gets a deterministic salt
    * in [0, salts); the small side is replicated once per salt value. The
    * shuffle key becomes (key, salt), splitting each hot key's row group
    * across `salts` reducers. Semantics identical to
    * `big.join(small, keys, "inner")` for 1:N joins (small side unique on
    * its key — the usual dim-table shape).
    *
    * Deterministic salt (hash of the whole big-side row) rather than rand():
    * reruns and retried tasks produce identical partitioning, which keeps
    * shuffle outputs reusable. */
  def saltedJoin(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String,
                 salts: Int = 16): DataFrame = {
    require(salts > 0)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(salts)).cast("int"))
    val saltedSmall = small
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedBig
      .join(saltedSmall,
        saltedBig(bigKey) === saltedSmall(smallKey) &&
          saltedBig("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** Write a DataFrame as a bucketed+sorted table: co-locates future joins
    * and aggregations on `bucketCols` — two tables bucketed the same way
    * join with ZERO shuffle (Spark reads bucket files as pre-partitioned
    * input splits). This is the reference's `ballista.repartition.joins`
    * answer done ahead of time, amortized across every query that reuses
    * the key. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the assertion that bucketed co-location actually removed the shuffle. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Best-fit-decreasing sequence packing (the bin-packing view of
    * training-sequence assembly — Ding et al. 2024 "Fewer Truncations
    * Improve Language Modeling"): pack items of `lenCol` tokens into bins
    * of `capacity` so padding waste shrinks vs first-come concatenation,
    * and NOTHING is ever truncated (items longer than `capacity` are the
    * caller's contract violation — filtered out, surface them upstream).
    *
    * Scale shape: items hash into `buckets` deterministic groups
    * (xxhash64 of the id — rerun-stable), each bucket is sorted
    * length-desc ONCE by the shuffle's `sortWithinPartitions`, and a
    * per-partition greedy best-fit pass assigns bins imperatively — the
    * genuine per-partition loop `mapPartitions` exists for. Per-bucket
    * state is just the open-bin load array (longs), so executor memory is
    * O(bins per bucket), never O(corpus). Bin ids are globally unique by
    * construction (bucket ⊕ local index). FFD's 11/9·OPT + 1 guarantee
    * holds per bucket; summed over buckets the assertable bound is
    * 11/9·Σ_b OPT_lb(b) + buckets where
    * OPT_lb(b) = max(ceil(total_b/capacity), #items with len > capacity/2)
    * — a valid OPT lower bound (volume + pigeonhole: two items above
    * capacity/2 cannot share a bin). The volume term alone is NOT a
    * sound substitute for OPT: a bucket of all-(cap/2, cap] items packs
    * one-per-bin optimally yet the volume bound is about half that.
    *
    * Determinism: bucket hash, the (len desc, id asc) total order, and the
    * sequential best-fit rule are all deterministic, so the full
    * (id → bin) assignment is reproducible across runs and cluster
    * layouts. Returns (idCol, len, bucket, bin_id). */
  def packBestFit(df: DataFrame, idCol: String, lenCol: String,
                  capacity: Long, buckets: Int = 64): DataFrame = {
    require(capacity > 0, s"capacity=$capacity must be positive")
    require(buckets > 0, s"buckets=$buckets must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val in = df
      .select(col(idCol), col(lenCol).cast("long").as("__len"))
      .filter(col("__len") > 0 && col("__len") <= capacity)
      .withColumn("__bucket",
        pmod(xxhash64(col(idCol)), lit(buckets)).cast("int"))
    // one shuffle: bucket-partitioned, (bucket, len desc, id) ordered — the
    // decreasing order best-fit needs, produced by the exchange's sort
    val sorted = in.repartition(col("__bucket"))
      .sortWithinPartitions(col("__bucket").asc, col("__len").desc,
        col(idCol).asc)
    val outSchema = StructType(Seq(
      StructField(idCol, df.schema(idCol).dataType),
      StructField("len", LongType),
      StructField("bucket", IntegerType),
      StructField("bin_id", LongType)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    sorted.mapPartitions { it =>
      // a partition holds whole buckets (hash partitioning on __bucket);
      // reset open-bin state at each bucket boundary
      var curBucket = Int.MinValue
      var loads: scala.collection.mutable.ArrayBuffer[Long] = null
      it.map { r =>
        val id = r.get(0)
        val len = r.getLong(1)
        val bucket = r.getInt(2)
        if (bucket != curBucket) {
          curBucket = bucket
          loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        }
        // best fit: the open bin with the least remaining space that still
        // holds `len`; ties to the lowest bin index (scan order)
        var best = -1
        var bestRem = Long.MaxValue
        var i = 0
        while (i < loads.length) {
          val rem = capacity - loads(i)
          if (rem >= len && rem < bestRem) { best = i; bestRem = rem }
          i += 1
        }
        if (best < 0) { loads += len; best = loads.length - 1 }
        else loads(best) += len
        Row(id, len, bucket, bucket.toLong * 1000000000L + best)
      }
    }
  }
}
