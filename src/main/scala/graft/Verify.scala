package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: restrict the dump to named queries (local
    // iteration aid; the driver always passes exactly two args)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=local-cluster[2,16,4096] runs the battery with
    // real MULTI-PROCESS executors — the only local mode that exercises
    // executor-side serde of the custom Catalyst nodes (GroupedTopK,
    // CentroidCosines' embedded matrix, PqEncode, Blake2/3) and
    // driver<->executor result traffic the way a real cluster does.
    // local-cluster executors are fresh JVMs that inherit NEITHER the
    // sbt classpath NOR the JDK17 add-opens, so both are forwarded.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder().master(master)
      .config(graft.engine.Context.codegenConf)
    val builder =
      if (master.startsWith("local-cluster")) builder0
        .config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
            "java.io", "java.net", "java.nio", "java.util",
            "java.util.concurrent", "java.util.concurrent.atomic")
            .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
            .mkString(" ") +
            " --add-opens=java.base/sun.nio.ch=ALL-UNNAMED" +
            " --add-opens=java.base/sun.nio.cs=ALL-UNNAMED" +
            " --add-opens=java.base/sun.security.action=ALL-UNNAMED" +
            " --add-opens=java.base/sun.util.calendar=ALL-UNNAMED")
      else builder0
    val spark = builder
      .config("spark.sql.shuffle.partitions", cpus)
      // same AQE initial-partition discipline as Context.local/Bench (r10):
      // gated queries run under the partition sizing production sessions use
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // runtime join-to-broadcast conversions capped at 1 MB compressed
      // (see Bench/MemProbe note: a 10 MB-compressed side can deserialize
      // to a build-OOM-sized hashed relation mid-job); pins still apply
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "1048576")
      // graft optimizer rules active in the graded session (same wiring as
      // Context.local) — gated queries run the plans users would get
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as Long ns
      // (converted to a µs timestamp in Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
