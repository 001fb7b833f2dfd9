package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided star schema (TESTDATA.md): one parquet
  * file per table under `dir`. Mirrors the reference's file-backed external
  * tables (reference context.rs:100-163) — every query starts from a
  * declarative parquet scan so Catalyst gets pushdown + pruning for free.
  *
  * Like the reference, which resolves a table once when it registers it,
  * each table's parquet schema is inferred once per session (see
  * [[Tables.read]]); later accesses, through this or any other `Tables`
  * of the same session, read with that schema and start no Spark job.
  * The schema is inferred again when the table's content stamp (size and
  * mtime of the file, or of every file under a directory) or any
  * `spark.sql.*parquet*` entry set in the session changes. Every access
  * still lists the files afresh and yields fresh attribute ids, so a
  * self-join of two accesses resolves like two independent scans.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others;
    * normalize both to a session-zoned TimestampType column (sessions pin
    * UTC) so downstream µs arithmetic (unix_micros, date_bin) always
    * resolves.
    *  - NANOS + spark.sql.legacy.parquet.nanosAsLong=true → LongType ns,
    *    converted with integer `div` (a double division would lose
    *    precision on ~1.7e18 ns values); the synthetic data has zero
    *    sub-microsecond component, so this is lossless.
    *  - MICROS naive → TIMESTAMP_NTZ under Spark's default NTZ inference;
    *    cast to TimestampType reinterprets the same wall-clock instant in
    *    the UTC session zone — lossless and identical to what the DuckDB
    *    oracle reads. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Synthetic link graph (src, dst) derived deterministically from
    * `documents` — every doc u with u%13 != 0 links to (7u+1)%N and
    * (13u+5)%N, every third linker also to the hub page 0, self-loops
    * dropped; docs with u%13 == 0 are the dangling set — materialized
    * ONCE per sf dir as a real parquet table under ./target/graft-edges
    * and then SCANNED. The graph suite thereby reads a genuine edge
    * table (parquet pruning/pushdown, src-sorted row groups) instead of
    * recomputing doc_id arithmetic inside every query; at cluster scale
    * this is exactly the promoted `edges` table a crawl pipeline keeps
    * next to its page table. The derivation is byte-identical to the
    * round-6 in-query form, so the DuckDB oracle CTE replay is
    * unchanged. Build is atomic (temp dir + rename) and idempotent;
    * concurrent same-JVM callers serialize on [[Tables]]. */
  def edges: DataFrame = {
    // cache key = source path + derivation-rule version + a content stamp
    // of documents.parquet: regenerated source data or a changed rule
    // gets a FRESH cache dir instead of silently serving a stale graph
    // (the oracle CTEs re-derive from the CURRENT documents every run,
    // so a stale cache would hash-mismatch with nothing pointing at it).
    // For a Spark-written DIRECTORY source the stamp is the sorted
    // (relative child path, size, mtime) list — a directory File's own
    // length is content-independent and its mtime misses in-place part
    // rewrites, which previously could serve a stale graph.
    val srcFile = new java.io.File(dir, "documents.parquet")
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // key = <src-dir hash>-<content stamp hash>: the prefix scopes the
    // post-build prune to THIS source's superseded caches — pruning
    // across sources would delete the live cache of another sf dir the
    // same JVM (or a concurrent process) alternates with, e.g. the
    // scale probe interleaving sf0.1 with its x10/x30 corpora
    val srcKey = md5(new java.io.File(dir).getCanonicalPath).take(8)
    val stamp = new java.io.File(dir).getCanonicalPath +
      s":${Tables.EdgeRuleVersion}:${Tables.contentStamp(srcFile)}"
    val key = srcKey + "-" + md5(stamp)
    val cacheDir = new java.io.File("target/graft-edges", key)
    if (!cacheDir.isDirectory) Tables.edgeBuildLock.synchronized {
      if (!cacheDir.isDirectory) {
        import org.apache.spark.sql.functions._
        val docs = documents.select(col("doc_id"))
        val cnt = docs.agg(count(lit(1)).as("__n"))
        val linkers = docs.crossJoin(broadcast(cnt))
          .filter(pmod(col("doc_id"), lit(13)) =!= 0)
        val e1 = linkers.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 7 + 1, col("__n")).as("dst"))
        val e2 = linkers.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 13 + 5, col("__n")).as("dst"))
        val e3 = linkers.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id").as("src"), lit(0L).as("dst"))
        val all = e1.unionByName(e2).unionByName(e3)
          .filter(col("src") =!= col("dst"))
          // src-sorted row groups: min/max stats make src-range scans
          // prunable, the layout a production edge table would carry
          .repartition(4, col("src")).sortWithinPartitions(col("src"))
        val tmp = new java.io.File(cacheDir.getParentFile,
          s"$key.tmp${System.nanoTime()}")
        all.write.mode("overwrite").parquet(tmp.toString)
        if (!tmp.renameTo(cacheDir)) {
          // another process won the race — use theirs, drop ours
          Tables.deleteRecursively(tmp)
          require(cacheDir.isDirectory, s"edge-table build failed: $cacheDir")
        } else {
          // prune superseded caches of THIS source only (same srcKey
          // prefix, different stamp) plus legacy unprefixed r7 keys
          // (never referenced by the new format). Other sources' live
          // caches and in-flight *.tmp* dirs are left alone. GRACE AGE:
          // deletion is cross-process (no inter-process lock exists), so
          // a dir another process just built for a newer stamp, or is
          // mid-read on, must not vanish under it — only dirs untouched
          // for EdgePruneGraceMs are candidates; younger superseded dirs
          // are left for a later build to sweep.
          val now = System.currentTimeMillis()
          Option(cacheDir.getParentFile.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isDirectory && f.getName != key &&
              (f.getName.matches(srcKey + "-[0-9a-f]{32}") ||
                f.getName.matches("[0-9a-f]{32}")) &&
              now - f.lastModified() > Tables.EdgePruneGraceMs)
            .foreach(Tables.deleteRecursively)
        }
      }
    }
    Tables.read(spark, cacheDir.toString)
  }

  /** Register every table as a temp view so `spark.sql` queries can refer to
    * them by name — the Spark analog of the reference's named-table catalog
    * (reference context.rs:110-163). */
  def registerAll(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(n => t(n).createOrReplaceTempView(n))
    events.createOrReplaceTempView("events")
  }
}

object Tables {
  /** Per session: path → (validity token, inferred schema). Weak keys and
    * values that hold only strings and [[StructType]]s, so an entry never
    * keeps its session alive; one entry per path, replaced when stale. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]]()

  /** `spark.read.parquet(path)` with the schema inferred once per session:
    * the inference job runs only on the first access, or when the token —
    * [[contentStamp]] of `path` plus every `spark.sql.*parquet*` entry the
    * session has set (`nanosAsLong` changes the inferred `events.ts`
    * type) — differs from the one the schema was inferred under. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas.synchronized {
      schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap())
    }
    val parquetConf = spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.") && k.contains("parquet") }
      .sorted.mkString(",")
    val token = contentStamp(new java.io.File(path)) + "|" + parquetConf
    Option(memo.get(path)) match {
      case Some((`token`, st)) => spark.read.schema(st).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        memo.put(path, (token, df.schema))
        df
    }
  }

  /** Bump when the [[Tables.edges]] derivation rule changes — part of the
    * cache key, so old cache dirs are simply never read again. */
  private[graft] val EdgeRuleVersion = 1
  /** Serializes same-JVM edge-table builds (see [[Tables.edges]]). */
  private[graft] val edgeBuildLock = new Object
  /** Minimum age before a superseded edge cache may be pruned — the
    * cross-process TOCTOU guard (r8 advisory): long enough for any
    * concurrent process's in-flight read of a superseded cache, or its
    * just-renamed newer build, to be out of the window. */
  private[graft] val EdgePruneGraceMs: Long = 15L * 60 * 1000
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Content stamp for a parquet source that may be a single file OR a
    * Spark-written directory: files stamp as size:mtime; directories
    * stamp as the sorted recursive (relative path, size, mtime) list —
    * any part-file rewrite (same names, in place) changes the stamp. */
  private[graft] def contentStamp(f: java.io.File): String = {
    def walk(g: java.io.File, rel: String): Seq[String] =
      if (g.isDirectory) {
        Option(g.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName)
          .flatMap(c => walk(c, s"$rel/${c.getName}")).toSeq
      } else Seq(s"$rel:${g.length}:${g.lastModified}")
    if (f.isDirectory) walk(f, "").mkString(",")
    else s"${f.length}:${f.lastModified}"
  }
}
