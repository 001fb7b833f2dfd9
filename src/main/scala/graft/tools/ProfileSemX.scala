package graft.tools
import graft.Tables
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-by-stage profile of the IVF semantic-dedup path on the scale-probe
  * x10 corpus (corpus-sized nlist) — pinpoints which stage carries the
  * super-linear cost the round-7 probe measured. */
object ProfileSemX {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale-probe/v2-x10")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, sfDir)
    val emb = t.embeddings
    val n = emb.count()
    val nlist = math.max(32, math.ceil(n / 64.0).toInt)
    println(s"[psx] n=$n nlist=$nlist")
    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"[psx] $name%-32s ${ts.head}%7.2f s  ${ts(1)}%7.2f s")
    }
    time("ivfIndex build (driver train)") {
      Similarity.ivfIndex(emb, "vec_id", "embedding", nlist, 2, 42L)
    }
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist, 2, 42L)
    time("assignment materialize") {
      idx.assignments.write.format("noop").mode("overwrite").save()
    }
    time("multi-probe asg materialize") {
      Similarity.multiProbeAssignments(idx, "vec_id", "embedding", 3)
        .write.format("noop").mode("overwrite").save()
    }
    val pairs = Similarity.clusterPairs(idx, "vec_id", "embedding", 0.45, 3)
    time("clusterPairs p=3 count") {
      println("  [psx] pairs=" + pairs.count())
    }
    time("survivors (CC)") {
      Dedup.survivors(emb, pairs, "vec_id")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
