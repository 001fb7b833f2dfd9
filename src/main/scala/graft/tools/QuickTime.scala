package graft.tools

import org.apache.spark.sql.SparkSession

/** One-off: wall-time named queries at a given SF under the Bench session
  * discipline (noop sink, COLD scoped caches per pass, min of 3).
  * Env knobs for A/B: SPARK_GRAFT_INIT_PARTS (default 1024),
  * SPARK_GRAFT_ADAPT_BCAST (default -1 = no runtime join-to-broadcast
  * conversion). Usage: runMain graft.tools.QuickTime q1 q2 ... */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config(graft.engine.Context.codegenConf)
      // A/B knob for shuffle/spill compression (core conf, builder-only):
      // guide-§2.3 "measure both" — zstd trades CPU for bytes
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_ADAPT_BCAST", "1048576"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B knob for the tfidf pair stage (Dedup.postingPairParts)
    sys.env.get("SPARK_GRAFT_TFIDF_INC").foreach(v =>
      spark.conf.set("spark.graft.tfidf.pairIncidencesPerTask", v))
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def pass(): Double = {
        graft.operators.Dedup.releaseCaches()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      pass() // JIT the plan shapes
      val m = Seq(pass(), pass(), pass()).min
      println(f"TIME $name ${m}%.2fs")
    }
    spark.stop()
  }
}
