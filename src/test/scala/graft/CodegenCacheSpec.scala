package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark compiles each whole-stage class once per JVM only if its
  * generated-class cache holds the working set. At Spark's default of
  * 100 entries a TPC-H pass (~270 distinct classes) evicts every class
  * before it comes round again, so each pass recompiled all of them;
  * `Context.sessionConf` sizes the cache for the whole suite. */
class CodegenCacheSpec extends SparkSpec {

  /** One pass over the 22 TPC-H queries with caches released before each
    * query, as a benchmark pass runs them. Returns each query's rows. */
  private def tpchPass(): Seq[Seq[String]] =
    (1 to 22).map { i =>
      graft.engine.QueryProfile.cold(spark)
      SparkEntry.queries(s"tpch_q$i")(spark, sf)
        .collect().map(_.toString).toSeq.sorted
    }

  /** Janino compiles started in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second TPC-H pass compiles no class and returns the same rows") {
    val first = tpchPass()
    val before = compiles
    assert(before > 0, "codegen metrics recorded no compile at all")
    val second = tpchPass()
    val recompiled = compiles - before
    assert(recompiled == 0, s"the second pass compiled $recompiled classes")
    assert(second == first)
  }
}
