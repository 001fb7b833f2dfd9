package layerbench

import graft.SparkEntry
import graft.engine.Context
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One JVM, one session, one client thread: runs a workload's queries one
  * at a time, in an order drawn from the seed, pass after pass until the
  * measuring time is spent, and writes every raw sample to `result.json`
  * (statistics are taken by the Python driver, `layerbench/run.py`).
  *
  * Each query is timed at the public calls into the library:
  * construction (`SparkEntry.queries(name)(spark, dir)`, or `spark.sql`
  * for `tpch_sql`) and the noop-sink action, which plans and executes.
  * With `--trace 1` passes come in pairs, and each query is traced in one
  * pass of a pair: traced queries register a [[Recorder]] and tag every
  * phase, and the spans of a pair's traced queries (pass → query →
  * construct/plan/exec → job → stage) go to `spans.jsonl`.
  *
  * Usage: LayerBench --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --out DIR --cores N
  */
object LayerBench {

  private val TpchQueries = (1 to 22).map(i => s"tpch_q$i")

  val Workloads: Map[String, Seq[String]] = Map(
    "tpch" -> TpchQueries,
    "tpch_sql" -> TpchQueries,
    "llm_dedup" -> Seq("llm_dedup_ngram", "llm_dedup_minhash",
      "llm_dedup_edit", "llm_hard_negatives_ivf"),
    "llm_iterative" -> Seq("llm_pagerank", "llm_hits", "llm_trustrank",
      "llm_bpe_merges"))

  /** Set-ups per untraced run; `setup_s` is their median. The first also
    * pays the JVM's class loading and JIT, so the median is a warm set-up.
    * A traced run reports no `setup_s` and sets up once. */
  private val Setups = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String,
                        cores: Int)

  /** One timed query; `analysisS` is the analysis phase its construction
    * recorded on the DataFrame's own planning tracker, `gcS` the JVM's
    * collection time inside its timed region, `leftoverBytes` what the
    * cache release before it left cached. */
  final case class QueryRun(name: String, traced: Boolean, startMs: Long,
                            actStartMs: Long, endMs: Long, constructS: Double,
                            execS: Double, analysisS: Double, gcS: Double,
                            leftoverBytes: Long, error: Option[String]) {
    def latencyS: Double = constructS + execS
  }

  /** Timed queries taken together: a pass, or the traced queries of a pair
    * of passes. `timedS` sums their latencies (the cold-state resets
    * between them are not timed). */
  final case class Pass(id: Int, queries: Seq[QueryRun]) {
    def timedS: Double = queries.map(_.latencyS).sum
    def leftoverBytes: Long = (0L +: queries.map(_.leftoverBytes)).max
    def gcS: Double = queries.map(_.gcS).sum
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("cores").toInt)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble).getOrElse(-1.0)

  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val names = Workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    def fn(name: String): (SparkSession, String) => DataFrame =
      if (o.workload == "tpch_sql") {
        val text = SparkEntry.oracleSql(name)
        (s, _) => s.sql(text)
      } else SparkEntry.queries(name)
    val fns = names.map(n => n -> fn(n)).toMap
    val sentinel = SparkEntry.queries("tpch_q6")
    new File(o.out).mkdirs()
    val loadStart = loadAvg()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeSentinel(spark: SparkSession): Double = {
      val t0 = now(); noop(sentinel(spark, o.data)); now() - t0
    }

    // -- set-up, repeated: session, views, one warm query -----------------
    var spark: SparkSession = null
    val setupS = (1 to (if (o.trace) 1 else Setups)).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = Context.local(cores = o.cores).spark
      spark.sparkContext.setLogLevel("WARN")
      graft.Tables(spark, o.data).registerAll()
      noop(sentinel(spark, o.data))
      now() - t0
    }
    val sc = spark.sparkContext

    /** Drops every cached block (the operators' scoped caches and cached
      * plans); returns the bytes still cached afterwards. */
    def releaseCaches(): Long = {
      Dedup.releaseCaches()
      spark.sharedState.cacheManager.clearCache()
      // unpersist is asynchronous: give released blocks a moment to go,
      // so only blocks that stay registered read as leftover
      def cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val deadline = now() + 0.5
      var left = cached
      while (left > 0 && now() < deadline) { Thread.sleep(20); left = cached }
      left
    }

    // -- verification pass: untimed, every result written for the oracle.
    // It is also the warm-up (codegen, JIT); its queries run `cores` at a
    // time to halve its cost, which leaves the timed pass less warm than a
    // one-at-a-time warm-up would (see README.md).
    releaseCaches()
    val verifyT0 = now()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    val verify = try names.map { name =>
      name -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
        def call(): Option[String] = try {
          fns(name)(spark, o.data).write.mode("overwrite")
            .parquet(s"${o.out}/verify/$name")
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      })
    }.map { case (n, f) => n -> f.get() } finally pool.shutdown()
    val verifyS = now() - verifyT0
    Files.writeString(Paths.get(s"${o.out}/verify/oracle_sql.json"),
      Json(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    val sentinelStartS = timeSentinel(spark)

    // -- timed passes ------------------------------------------------------
    val recorder = new Recorder
    val snaps = Seq.newBuilder[Recorder.Snapshot]
    val rnd = new scala.util.Random(o.seed)
    def tag(q: String, phase: String): Unit = {
      sc.setLocalProperty(Recorder.QueryKey, q)
      sc.setLocalProperty(Recorder.PhaseKey, phase)
    }

    def runQuery(name: String, traced: Boolean, pair: Int): QueryRun = {
      // every query starts from cold caches, outside its timed region, so
      // no query's time depends on which queries ran before it
      val leftover = releaseCaches()
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        sc.setLocalProperty(Recorder.PassKey, pair.toString)
      }
      val gc0 = gcSeconds()
      val startMs = System.currentTimeMillis()
      val q0 = now()
      if (traced) tag(name, "construct")
      var q1 = q0
      var actStartMs = startMs
      var analysisS = 0.0
      val err = try {
        val df = fns(name)(spark, o.data)
        q1 = now(); actStartMs = System.currentTimeMillis()
        analysisS = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs / 1000.0).getOrElse(0.0)
        if (traced) tag(name, "exec")
        noop(df)
        None
      } catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      val q2 = now()
      if (q1 == q0) q1 = q2
      val run = QueryRun(name, traced, startMs, actStartMs,
        System.currentTimeMillis(), q1 - q0, q2 - q1, analysisS,
        gcSeconds() - gc0, leftover, err)
      if (traced) {
        awaitListeners(spark, recorder, s"barrier-$pair-$name",
          if (err.isEmpty) Some(actStartMs) else None)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
        Seq(Recorder.PassKey, Recorder.QueryKey, Recorder.PhaseKey)
          .foreach(k => sc.setLocalProperty(k, null))
        snaps += recorder.drain()
      }
      run
    }

    def runPass(id: Int, traced: Set[String], pair: Int): Pass = {
      val order = rnd.shuffle(names)
      System.gc()
      Pass(id, order.map(n => runQuery(n, traced(n), pair)))
    }

    // A traced run first makes one untimed pass, so that the passes it
    // compares start equally warm. It then makes passes in pairs: each
    // query is traced in one pass of a pair and untraced in the other, half
    // of them traced first, so what a second pass gains from the first
    // falls on both sides of `trace.overhead_s`.
    if (o.trace) runPass(-1, Set.empty, -1)
    val minPasses = if (o.trace) 2 else 1
    val passes = Seq.newBuilder[Pass]
    val traces = Seq.newBuilder[(Pass, Recorder.Snapshot, Double)]
    val measureT0 = now()
    var passNo = 0
    while (now() - measureT0 < o.seconds || passNo < minPasses) {
      if (o.trace) {
        val pair = passNo / 2
        val first = rnd.shuffle(names).take(names.size / 2).toSet
        val a = runPass(passNo, first, pair)
        val b = runPass(passNo + 1, names.toSet -- first, pair)
        passes += a; passes += b
        val all = (a.queries ++ b.queries).sortBy(_.startMs)
        val (tq, uq) = all.partition(_.traced)
        traces += ((Pass(pair, tq), Recorder.Snapshot.merge(snaps.result()),
          uq.map(_.latencyS).sum))
        snaps.clear()
        passNo += 2
      } else {
        passes += runPass(passNo, Set.empty, -1)
        passNo += 1
      }
    }
    val sentinelEndS = timeSentinel(spark)
    val loadEnd = loadAvg()

    val traced = traces.result()
    if (o.trace) Spans.write(s"${o.out}/spans.jsonl",
      traced.map { case (p, snap, _) => (p, snap) })
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark."))
      .toSeq.sortBy(_._1).toMap
    val result = Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "cores" -> o.cores,
      "jvm_heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> conf,
      "setup_s" -> setupS,
      "verify_s" -> verifyS,
      "verify" -> verify.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd,
      "sentinel_start_s" -> sentinelStartS,
      "sentinel_end_s" -> sentinelEndS,
      "peak_rss_mb" -> peakRssMb(),
      "passes" -> passes.result().map { p =>
        Map("pass" -> p.id, "timed_s" -> p.timedS,
          "leftover_bytes" -> p.leftoverBytes, "gc_s" -> p.gcS,
          "queries" -> p.queries.map(q => Map("name" -> q.name,
            "traced" -> q.traced, "construct_s" -> q.constructS,
            "exec_s" -> q.execS, "latency_s" -> q.latencyS,
            "error" -> q.error)))
      },
      // per pair of passes: the traced queries' layers, and the same
      // queries' summed latency untraced
      "layers" -> traced.map { case (p, snap, untracedS) =>
        Layers.ofPass(p, snap, o.cores, Layers.moduleOf) +
          ("untraced_s" -> untracedS) }
    )
    Files.writeString(Paths.get(s"${o.out}/result.json"), Json(result))
    spark.stop()
  }

  /** Waits until the listener bus has delivered a traced query: a marker
    * job is submitted after it, and its end event arrives after every
    * event posted before it. The planning callbacks travel on another
    * queue, so the one of the query's action, planned from `actStartMs`
    * on, is awaited by itself. */
  private def awaitListeners(spark: SparkSession, rec: Recorder,
                             token: String, actStartMs: Option[Long]): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.QueryKey, token)
    sc.setLocalProperty(Recorder.PhaseKey, Recorder.BarrierPhase)
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 5000000000L
    while ((!rec.sawBarrier(token) || !actStartMs.forall(rec.plannedSince)) &&
           System.nanoTime() < deadline) Thread.sleep(5)
  }
}
