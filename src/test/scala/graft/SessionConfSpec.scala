package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{DeflateRatio, MediaHeaders, MinHashSig, UnicodeNormalize, VectorCosine, VectorDotInt}
import graft.plans.GroupedTopK

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

  test("GroupedTopK, the window idiom and every column builder register " +
    "nothing at runtime") {
    import spark.implicits._
    val df = Seq(("a", 1L, 3.0, Seq(1.0, 0.0), Seq(1, 2)),
      ("a", 2L, 2.0, Seq(0.0, 1.0), Seq(3, 4)),
      ("b", 3L, 1.0, Seq(1.0, 1.0), Seq(5, 6))).toDF("g", "id", "v", "e", "q")
    assert(GroupedTopK(df, Seq("g"), Seq($"v".desc), 1).count() == 2)
    val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
    assert(df.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 1).drop("rn").count() == 2)
    df.select(VectorCosine.vecCosine($"e", $"e"),
      VectorDotInt.vecDotInt($"q", $"q"), UnicodeNormalize.nfc($"g"),
      UnicodeNormalize.nfkc($"g"), DeflateRatio.deflateRatio($"g"))
      .collect()
    df.groupBy($"g").agg(MinHashSig.minhashSig($"id", 2)).collect()
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("a new session resolves the eight graft_* SQL functions before any " +
    "column builder runs, to the builders' values") {
    val s = spark.newSession()
    import s.implicits._
    Seq((Seq(1.0, 2.0), Seq(2.0, 1.0), Seq(1, 2, 3), Seq(4, 5, 6),
        "Cafe\u0301", "\uFF21\uFF22", "ab" * 100))
      .toDF("a", "b", "ia", "ib", "t", "fw", "txt")
      .createOrReplaceTempView("fn_in")
    Seq(1L, 2L, 3L).toDF("sh").createOrReplaceTempView("fn_sh")
    // binary cells compare by content, not by array identity
    def cells(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    val viaSql = cells(s.sql(
      """SELECT graft_vec_cosine(a, b), graft_vec_dot_int(ia, ib),
        |  graft_unicode_normalize(t, 'NFC'),
        |  graft_unicode_normalize(fw, 'NFKC'), graft_deflate_ratio(txt),
        |  graft_media_build('png', 4, 3, 0, 0),
        |  graft_media_kind(graft_media_build('png', 4, 3, 0, 0)),
        |  graft_media_field(graft_media_build('png', 4, 3, 0, 0), 'width')
        |FROM fn_in""".stripMargin).head())
    val sigSql = s.sql("SELECT graft_minhash_sig(sh, 4) FROM fn_sh").head()
    val png = call_function(MediaHeaders.buildName, lit("png"), lit(4),
      lit(3), lit(0), lit(0))
    val viaBuilders = cells(s.table("fn_in").select(
      VectorCosine.vecCosine($"a", $"b"), VectorDotInt.vecDotInt($"ia", $"ib"),
      UnicodeNormalize.nfc($"t"), UnicodeNormalize.nfkc($"fw"),
      DeflateRatio.deflateRatio($"txt"), png,
      call_function(MediaHeaders.kindName, png),
      call_function(MediaHeaders.fieldName, png, lit("width"))).head())
    assert(viaSql == viaBuilders)
    assert(math.abs(viaSql(0).asInstanceOf[Double] - 0.8) < 1e-12)
    assert(viaSql(1) == 32L)
    assert(viaSql(2) == "Caf\u00E9" && viaSql(3) == "AB")
    assert(viaSql(5) == MediaHeaders.build("png", 4, 3, 0, 0).toSeq)
    assert(viaSql(6) == "png" && viaSql(7) == 4L)
    assert(sigSql == s.table("fn_sh").agg(MinHashSig.minhashSig($"sh", 4))
      .head())
  }
}
