package graft

import graft.expressions.DeflateRatio
import org.apache.spark.sql.functions._

/** DeflateRatio golden bounds (exact DEFLATE bytes are a zlib
  * implementation detail; the signal contract is ordering + bounds),
  * determinism, null/empty semantics, and a forced-codegen round-trip. */
class DeflateRatioSpec extends SparkSpec {
  import spark.implicits._

  test("kernel bounds: repetition compresses, entropy does not") {
    val aaa = DeflateRatio.ratio(("a" * 1000).getBytes("UTF-8"))
    assert(aaa > 0.0 && aaa < 0.05, s"'aaa...' ratio $aaa")
    val rnd = new scala.util.Random(7)
    val noise = Array.fill[Byte](4096)(rnd.nextInt(256).toByte)
    val r = DeflateRatio.ratio(noise)
    assert(r > 0.9, s"random-bytes ratio $r") // incompressible
    val english = ("the quick brown fox jumps over the lazy dog " * 20)
      .getBytes("UTF-8")
    val e = DeflateRatio.ratio(english)
    assert(e > 0.0 && e < 0.2, s"repeated-sentence ratio $e")
    assert(DeflateRatio.ratio(Array.emptyByteArray).isNaN)
  }

  test("deterministic across repeated calls and threads") {
    val payload = ("spark shuffles partitions " * 50).getBytes("UTF-8")
    val first = DeflateRatio.ratio(payload)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (1 to 8).map(_ => new Thread(() =>
      results.add(DeflateRatio.ratio(payload))))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == Set(first))
  }

  test("expression under forced codegen: values, null, binary input") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((1L, "a" * 500), (2L, ""), (3L, "mixed entropy text 123"))
        .toDF("id", "t")
        .select(col("id"),
          call_function(DeflateRatio.name, col("t")).as("r"),
          call_function(DeflateRatio.name, col("t").cast("binary"))
            .as("rb"))
        .orderBy(col("id"))
      val rows = df.collect()
      assert(rows(0).getDouble(1) < 0.05)
      assert(rows(1).isNullAt(1) && rows(1).isNullAt(2)) // empty -> NULL
      // string and binary paths agree (same bytes)
      assert(rows(2).getDouble(1) == rows(2).getDouble(2))
      // driver-side kernel agrees with the distributed expression
      assert(rows(0).getDouble(1) ==
        DeflateRatio.ratio(("a" * 500).getBytes("UTF-8")))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
