package graft.tools

/** Wall-time named queries at a given SF under the Bench session
  * discipline (noop sink, COLD scoped caches per pass, min of 3), in a
  * session built from `Context.sessionConf` (README "Session
  * configuration" says how to A/B an entry).
  * Usage: runMain graft.tools.QuickTime q1 q2 ... */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Context.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
