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

  /** Entries every session builder in the project applies, whatever else
    * it configures, so that each generated class is compiled once per JVM.
    *
    * - `spark.sql.codegen.cache.maxEntries` sizes Spark's cache of compiled
    *   classes, keyed by generated source. The cache is static and
    *   JVM-wide, sized from the session that generates code first. At the
    *   default of 100 it cannot hold one tpch pass (~270 distinct
    *   classes), so every pass recompiled every class. One pass of all 209
    *   gated queries compiles ~2,150 distinct classes; 4096 holds them.
    * - `spark.sql.codegen.useIdInClassName=false` keeps the whole-stage
    *   codegen id out of the class name, and so out of the cache key. AQE
    *   numbers stages in the order it plans them, which follows the order
    *   sibling stages finish in: with the id in the name, tpch_q11
    *   compiled a second copy of two classes whenever its two aggregate
    *   stages finished the other way round. Plans still print the id. */
  val codegenConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Single-box bring-up, the analog of running the reference's in-process
    * Scheduler + Executor daemons (reference scheduler.rs:27-72,
    * executor.rs:24-76): in Spark that entire runtime is
    * `master(local[n])` — scheduling, shuffle service, and memory manager
    * come with the session. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            shufflePartitions: Int = 32,
            appName: String = "graft"): Context = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config(codegenConf)
      // library extensions: GroupedTopK strategy + the window-top-k
      // rewrite rule (plans/GraftExtensions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE sizes coalescible exchanges from this starting count down to
      // the 64 MB advisory — `shufflePartitions` alone would CAP the
      // parallelism of every big shuffle (AQE can only merge, not split;
      // the r9 x30 probe's pair aggregate spilled hundreds of files per
      // task because its exchange was pinned at 32 reducers). Standard
      // AQE discipline: start high, let measured map output decide.
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      // companion knob: cached plans otherwise pin their UNCOALESCED
      // initial partitioning (AQE may not change cached-plan output
      // partitioning by default), so every consumer of a persisted
      // intermediate would launch 256 tiny tasks per stage
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // runtime join-to-broadcast conversions capped at 1 MB compressed
      // (see Bench/MemProbe note: a 10 MB-compressed side can deserialize
      // to a build-OOM-sized hashed relation mid-job); pins still apply
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "1048576")
      // shuffle/spill compression: lz4 locally, env-overridable. r10 A/B:
      // zstd LOSES on small-exchange corpora (sf0.1: per-block CPU with no
      // byte payoff, e.g. llm_tfidf_pairs 2.36→3.65 s min) and WINS once
      // shuffles/spills reach tens of GB (x30 corpus: tfidf −20% wall,
      // −59% spill-disk bytes, −44% GC; prefix −30%/−59%/−79%, hashes
      // identical) — set SPARK_GRAFT_IO_CODEC=zstd on big-shuffle fleets.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose extensions were
    // fixed at first build — the runtime registration path covers that
    graft.plans.RewriteWindowTopK.register(spark)
    new Context(spark, shufflePartitions)
  }
}
