package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session façade with the reference's `BallistaContext` surface (reference
  * context.rs:34-172): ad-hoc reads, named-table registration for SQL, and
  * SQL execution. Spark-first: the "remote scheduler" of the reference is
  * simply the SparkSession's cluster manager; the named-table catalog is the
  * session catalog (temp views), so `sql()` reaches every registered table,
  * `SHOW TABLES`, and DDL like `CREATE TABLE … USING parquet LOCATION …`
  * natively.
  *
  * Ctor parity (reference context.rs:34-64): `shufflePartitions` maps to
  * spark.sql.shuffle.partitions; `batchSize` (`ballista.batch.size`) is an
  * engine-internal knob with no Spark analog — whole-stage codegen replaces
  * interpreted batches — and is accepted as a documented no-op.
  */
final class Context(val spark: SparkSession,
                    shufflePartitions: Int = 16,
                    batchSize: Int = 8192) {

  spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)

  /** SQL pass-through (reference context.rs:166-172). Lazy: returns a
    * DataFrame wrapping the plan; nothing executes until an action. */
  def sql(query: String): DataFrame = spark.sql(query)

  // --- ad-hoc reads (reference context.rs:66-98) ---------------------------

  /** `schemaInferMaxRecords` (reference context.rs:100-145) maps to Spark's
    * inference cap: sampling is bounded by reading at most that many rows
    * into the inference pass via the csv `samplingRatio`-independent
    * `inferSchema` + a row-count limit is not exposed directly, so the
    * closest native knob is used — `inferSchema` over the first
    * `schemaInferMaxRecords` rows is approximated with `samplingRatio` when
    * the cap is small; a user-supplied schema bypasses inference entirely
    * (the scale path: schema inference reads data twice). `fileExtension`
    * maps to `pathGlobFilter`. */
  def readCsv(path: String,
              hasHeader: Boolean = false,
              delimiter: String = ",",
              schema: Option[StructType] = None,
              schemaInferMaxRecords: Int = 1000,
              fileExtension: String = ".csv"): DataFrame = {
    val r = spark.read
      .option("header", hasHeader.toString)
      .option("sep", delimiter)
      .option("pathGlobFilter", s"*$fileExtension")
    schema match {
      case Some(st) => r.schema(st).csv(path)
      case None     => r.option("inferSchema", "true")
        // Spark has no row-count inference cap; samplingRatio bounds the
        // fraction of rows parsed during inference. Approximate the
        // reference's record cap conservatively for small caps.
        .option("samplingRatio",
          (if (schemaInferMaxRecords >= 1000) 1.0
           else math.max(schemaInferMaxRecords / 1000.0, 0.001)).toString)
        .csv(path)
    }
  }

  def readParquet(path: String): DataFrame = spark.read.parquet(path)

  /** Avro scan (reference context.rs:89-98). Requires the spark-avro module
    * on the classpath; absent in this environment, so the call surfaces a
    * clear capability error (mirroring how the reference documents JSON as
    * unsupported, reference OLDREADME.md:36). */
  def readAvro(path: String): DataFrame =
    try spark.read.format("avro").load(path)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("avro") =>
        throw new UnsupportedOperationException(
          "Avro requires the spark-avro module on the classpath " +
          "(environment-unsupported here)", e)
    }

  // --- catalog registration (reference context.rs:100-163) -----------------

  def registerCsv(name: String, path: String,
                  schema: Option[StructType] = None,
                  hasHeader: Boolean = true,
                  delimiter: String = ",",
                  schemaInferMaxRecords: Int = 1000,
                  fileExtension: String = ".csv"): Unit =
    readCsv(path, hasHeader, delimiter, schema, schemaInferMaxRecords,
        fileExtension)
      .createOrReplaceTempView(name)

  def registerParquet(name: String, path: String): Unit =
    readParquet(path).createOrReplaceTempView(name)

  def registerAvro(name: String, path: String): Unit =
    readAvro(path).createOrReplaceTempView(name)

  def registerTable(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** In-memory source (reference docs/source/user-guide/python.md:103-133). */
  def createDataFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)

  def tables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
}

object Context {

  /** The one definition of a session's configuration. Every session in the
    * project (`local` below, `Bench`, `Verify`, the mains under
    * `graft.tools` and the test session) is built from it through
    * [[builder]], so plan guards, benchmarks and the oracle gate all run
    * the config users get. The reason for each entry:
    *
    * - `spark.sql.codegen.cache.maxEntries=4096` sizes Spark's cache of
    *   compiled classes, keyed by generated source. The cache is static and
    *   JVM-wide, sized from the session that generates code first. At the
    *   default of 100 it cannot hold one tpch pass (~270 distinct
    *   classes), so every pass recompiled every class. One pass of all 209
    *   gated queries compiles ~2,150 distinct classes; 4096 holds them.
    * - `spark.sql.codegen.useIdInClassName=false` keeps the whole-stage
    *   codegen id out of the class name, and so out of the cache key. AQE
    *   numbers stages in the order it plans them, which follows the order
    *   sibling stages finish in: with the id in the name, tpch_q11
    *   compiled a second copy of two classes whenever its two aggregate
    *   stages finished the other way round. Plans still print the id.
    * - `spark.sql.extensions=graft.plans.GraftExtensions` installs the
    *   GroupedTopK strategy, the window top-k rewrite and its column
    *   pruning, the single-split scan strategy and the eight `graft_*`
    *   SQL functions in every session of the JVM, `newSession()`
    *   included. It is the only way the engine installs itself.
    * - AQE's initial partition count, 256: AQE sizes coalescible
    *   exchanges from this starting count down to the 64 MB advisory.
    *   `shufflePartitions` alone would cap the parallelism of every big
    *   shuffle, since AQE can only merge partitions, never split them:
    *   with 32 reducers the x30 tfidf pair aggregate spilled hundreds of
    *   files per task. 1024 cost ~2 s per query of per-stage
    *   overhead on iterative shapes (llm_hybrid_retrieval 3.2 s vs 1.8 s),
    *   and at x30 byte-sized coalescing lands at ≤256 partitions anyway.
    * - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
    *   without it a persisted intermediate (Dedup's scoped caches) keeps
    *   its uncoalesced initial partitioning, and every consumer launches
    *   256 tiny tasks per stage (llm_tfidf_pairs at sf0.1: 2.7 s → 19.6 s
    *   at 1024).
    * - `spark.sql.adaptive.autoBroadcastJoinThreshold=1048576` caps runtime
    *   join-to-broadcast conversions at 1 MB of compressed shuffle bytes
    *   (≤~30 MB built). With cached-plan replanning on, the 10 MB default
    *   let AQE broadcast a side that deserialized into a hashed relation
    *   big enough to OOM the build mid-job (llm_dedup_prefix at x30); -1
    *   is safe but costs 1.4-3.5x on join-heavy sf0.1 rows. Broadcasts
    *   that matter are pinned at the operator.
    * - `spark.sql.files.maxPartitionBytes=4m`: each sf table is one parquet
    *   file (~50 MB at sf0.1), which the 128 MB default scans in 1-3 tasks
    *   on a 32-thread box. With many files per table it changes nothing.
    *   A file of at most 4 MB (with the default 4 MB `openCostInBytes`) is
    *   one split, and [[graft.plans.SingleSplitScanStrategy]] plans its
    *   scan as one partition, with no exchange above it.
    * - `spark.sql.session.timeZone=UTC`, so timestamps render the same on
    *   every host and in the DuckDB oracle.
    * - `spark.sql.legacy.parquet.nanosAsLong=true`: events.parquet carries
    *   TIMESTAMP(NANOS), read as Long ns and converted to a µs timestamp in
    *   `Tables.events`.
    * - `spark.ui.enabled=false`: no session serves a UI.
    * - `spark.sql.shuffle.partitions=shufflePartitions`: the count of
    *   exchanges AQE does not coalesce, and the floor operators size their
    *   explicit repartitions from.
    *
    * Shuffle and spill compression is left at Spark's lz4. zstd loses on
    * small exchanges (sf0.1 llm_tfidf_pairs 2.36 → 3.65 s) and wins once
    * shuffles and spills reach tens of GB (x30 tfidf −20% wall, −59% spill
    * bytes): set Spark's own `spark.io.compression.codec` on such fleets. */
  def sessionConf(shufflePartitions: Int): Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1048576",
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString)

  /** A builder carrying [[sessionConf]]. A `local-cluster[...]` master
    * starts executors as fresh JVMs that inherit neither this process's
    * classpath nor the JDK module options Spark needs, so both are
    * forwarded; the options are Spark's own list, the one `spark-submit`
    * injects. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config(sessionConf(shufflePartitions))
    if (master.startsWith("local-cluster")) b
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
    else b
  }

  /** Single-box bring-up, the analog of running the reference's in-process
    * Scheduler + Executor daemons (reference scheduler.rs:27-72,
    * executor.rs:24-76): in Spark that entire runtime is
    * `master(local[n])` — scheduling, shuffle service, and memory manager
    * come with the session. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            shufflePartitions: Int = 32,
            appName: String = "graft"): Context = {
    val spark = builder(s"local[$cores]", shufflePartitions)
      .appName(appName).getOrCreate()
    new Context(spark, shufflePartitions)
  }
}
