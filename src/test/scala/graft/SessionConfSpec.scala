package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The test session is built from `Context.sessionConf`, the one session
  * definition, so every suite plans under the config shipped sessions run,
  * whatever ran before it in the JVM. */
class SessionConfSpec extends SparkSpec {

  test("every sessionConf entry reads back unchanged in the test session") {
    val conf = graft.engine.Context.sessionConf(4)
    val diff = conf.collect {
      case (k, v) if spark.conf.getOption(k) != Some(v) =>
        s"$k: expected $v, got ${spark.conf.getOption(k)}"
    }
    assert(diff.isEmpty, diff.mkString("\n"))
  }

  test("a new session plans the window top-k idiom as GroupedTopK") {
    val s = spark.newSession()
    // nothing registered at runtime: only the session extension can fire
    assert(s.experimental.extraOptimizations.isEmpty)
    assert(s.experimental.extraStrategies.isEmpty)
    import s.implicits._
    val df = Seq(("a", 1L, 3.0), ("a", 2L, 2.0), ("a", 3L, 1.0),
      ("b", 4L, 1.0)).toDF("g", "id", "v")
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    val top = df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2).drop("rn")
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopK"), s"rewrite did not fire:\n$plan")
    assert(top.collect().map(_.getLong(1)).toSet == Set(1L, 2L, 4L))
  }
}
