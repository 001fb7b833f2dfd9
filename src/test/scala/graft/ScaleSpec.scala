package graft

import graft.engine.QueryProfile
import graft.operators.Scale
import org.apache.spark.sql.functions._

/** Scale helpers: salted-join semantics and bucketed shuffle-free joins. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("minParallel spreads a single-partition scan and leaves an already " +
    "shuffled input alone without running a job") {
    val n = spark.sparkContext.defaultParallelism
    val scan = spark.read.parquet(s"$sf/nation.parquet")
    assert(scan.rdd.getNumPartitions < n)
    assert(Scale.minParallel(scan, "n_nationkey").rdd.getNumPartitions == n)
    // the aggregate's exchange appears only once EnsureRequirements runs,
    // so the pre-exchange `sparkPlan` does not show it
    val grouped = scan.groupBy(col("n_regionkey")).agg(count(lit(1)).as("c"))
    var out: org.apache.spark.sql.DataFrame = null
    assert(QueryProfile.run(spark) {
      out = Scale.minParallel(grouped, "n_regionkey")
    }.jobs.isEmpty)
    assert(out eq grouped)
  }

  test("saltedJoin matches plain join results on a skewed key") {
    // 90% of big rows share key 1 (the hot key)
    val big = (1 to 1000).map(i => (if (i <= 900) 1 else i % 50, i))
      .toDF("k", "payload")
    val small = (0 until 50).map(i => (i, s"dim_$i")).toDF("dk", "name")
    val plain = big.join(small, big("k") === small("dk"))
      .select("k", "payload", "name").collect()
      .map(_.toSeq).toSet
    val salted = Scale.saltedJoin(big, small, "k", "dk", salts = 8)
      .select("k", "payload", "name").collect()
      .map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("salt spreads the hot key across partitions deterministically") {
    val big = (1 to 1000).map(i => (1, i)).toDF("k", "payload")
    val salts = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(8)).cast("int"))
      .select("__salt").distinct().count()
    assert(salts > 1) // hot key fans out over multiple salt values
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS bucketed_a")
    spark.sql("DROP TABLE IF EXISTS bucketed_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val a = (1 to 1000).map(i => (i.toLong, i * 2)).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, i * 3)).toDF("k", "vb")
      Scale.writeBucketed(a, "bucketed_a", 4, Seq("k"))
      Scale.writeBucketed(b, "bucketed_b", 4, Seq("k"))
      val j = spark.table("bucketed_a")
        .join(spark.table("bucketed_b"), "k")
      assert(j.count() == 1000)
      assert(Scale.isShuffleFree(j),
        "bucketed join should plan with no Exchange:\n" +
          j.queryExecution.executedPlan.toString)
      // contrast: the same join on raw (unbucketed) data does shuffle
      val raw = a.join(b.withColumnRenamed("vb", "vb2"), "k")
      assert(!Scale.isShuffleFree(raw))
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("writeSharded: per-file cap, disjoint ordered ranges, lossless") {
    import graft.engine.QueryProfile
import graft.operators.Scale
    val dir = java.nio.file.Files.createTempDirectory("shard-spec")
    try {
      val keyed = (1 to 1200).map(i => (i.toLong, s"p$i")).toDF("k", "p")
      Scale.writeSharded(keyed, dir.toString, col("k"), 100)
      val back = spark.read.parquet(dir.toString)
      assert(back.count() == 1200)
      val perFile = back.groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("c"), min($"k").as("lo"), max($"k").as("hi"))
        .collect().sortBy(_.getAs[Long]("lo"))
      assert(perFile.forall(_.getAs[Long]("c") <= 100))
      assert(perFile.length >= 12) // ceil(1200/100)
      perFile.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"),
            "file key ranges overlap")
        case _ =>
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir.toFile)
    }
  }

  test("prefixSum equals the sequential running total, any bucket count") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(100).toLong))
    val df = rows.toDF("id", "v")
    // reference: sort by id, accumulate
    val want = rows.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .drop(1).toMap
    for (buckets <- Seq(2, 7, 16)) {
      val got = Scale.prefixSum(df, col("id"), col("v"), "cum", buckets)
        .select(col("id"), col("cum")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"buckets=$buckets")
    }
    // constant order key degenerates to one bucket but must stay correct
    // when the key is made unique by construction (documented contract)
    val gotUnique = Scale.prefixSum(df, col("id") * 0 + col("id"),
      col("v"), "cum", 4)
      .select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotUnique == want)
  }

  test("packBestFit: capacity respected, exactly-once, FFD bound, " +
    "deterministic across runs") {
    val rnd = new scala.util.Random(7)
    val items = (1 to 400).map(i => (i.toLong, (rnd.nextInt(200) + 1).toLong))
    val df = items.toDF("id", "len")
    val cap = 256L
    def run() = Scale.packBestFit(df, "id", "len", cap, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    val got = run()
    // exactly once
    assert(got.map(_._1).sorted.toSeq == items.map(_._1).sorted)
    // capacity respected per bin
    val loads = got.groupBy(_._4).view.mapValues(_.map(_._2).sum)
    assert(loads.values.forall(_ <= cap))
    // FFD bound per bucket sum: n_bins <= 11/9 * sum_b OPT_lb(b) + B with
    // OPT_lb(b) = max(ceil(total_b/cap), #items with len > cap/2) — the
    // valid per-bucket OPT lower bound (volume + pigeonhole)
    val byBucket = got.groupBy(_._3)
    val perBucket = byBucket.view.mapValues(_.map(_._2).sum)
    val optLb = byBucket.map { case (b, items) =>
      val total = items.map(_._2).sum
      math.max((total + cap - 1) / cap, items.count(_._2 > cap / 2).toLong)
    }.sum
    assert(loads.size <= 11.0 / 9.0 * optLb + perBucket.size)
    // rerun-identical assignment (deterministic hash bucketing + ordering)
    assert(run().sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    // beats (or matches) first-come sequential concatenation in bin count
    val seqBins = items.foldLeft((0, 0L)) { case ((bins, load), (_, len)) =>
      if (load + len <= cap) (math.max(bins, 1), load + len)
      else (bins + 1, len)
    }._1
    assert(loads.size <= seqBins + perBucket.size,
      s"FFD ${loads.size} bins vs sequential $seqBins (+bucket slack)")
  }

  test("packBestFit: all-items-in-(cap/2,cap] packs one-per-bin and the " +
    "pigeonhole OPT bound holds where the volume bound alone would not") {
    // every item ~300 at cap 512: OPT = n (no two can share), volume
    // lower bound ~ n*300/512 < n — the unsound bound would flag a
    // CORRECT packer here; the pigeonhole term keeps the gate sound
    val df = (1 to 200).map(i => (i.toLong, 300L)).toDF("id", "len")
    val cap = 512L
    val got = Scale.packBestFit(df, "id", "len", cap, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    val loads = got.groupBy(_._4).view.mapValues(_.map(_._2).sum)
    assert(loads.size == 200)          // one bin per item, forced
    assert(loads.values.forall(_ <= cap))
    val byBucket = got.groupBy(_._3)
    val optLb = byBucket.map { case (_, items) =>
      val total = items.map(_._2).sum
      math.max((total + cap - 1) / cap, items.count(_._2 > cap / 2).toLong)
    }.sum
    assert(loads.size <= 11.0 / 9.0 * optLb + byBucket.size)
    // and the volume-only bound would indeed have been violated
    val volOnly = byBucket.map { case (_, items) =>
      val total = items.map(_._2).sum; (total + cap - 1) / cap
    }.sum
    assert(loads.size > 11.0 / 9.0 * volOnly + byBucket.size,
      "scenario no longer exercises the unsound-bound gap")
  }

  test("packBestFit: oversize and non-positive items are excluded, " +
    "single-item-per-bin edge works") {
    val df = Seq((1L, 300L), (2L, 0L), (3L, 256L), (4L, 1L))
      .toDF("id", "len")
    val got = Scale.packBestFit(df, "id", "len", 256L, buckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.map(_._1).toSet == Set(3L, 4L))
  }
}
