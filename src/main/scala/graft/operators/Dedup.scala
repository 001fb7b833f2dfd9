package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * fingerprint, n-gram Jaccard, MinHash+LSH, and SimHash. All are pure
  * DataFrame→DataFrame transforms — every stage is a scan / hash-shuffle /
  * hash-agg plan with no driver-side collection, so the same code paths run
  * unchanged on a 1000-executor cluster.
  *
  * Scale design notes:
  *  - shingles are hashed to 64-bit longs before any shuffle (8 bytes/key
  *    instead of arbitrary-length strings);
  *  - candidate generation (LSH bands / simhash blocks) shuffles on
  *    (band, hash) — uniformly distributed keys, no skew hotspots;
  *  - exact-dedup keeps min-id per key via partial-aggregating groupBy
  *    (map-side combine), not a window sort.
  */
object Dedup {

  /** Word-n-gram size of every shingle operator: the default `n` of those
    * that take one, the fixed size of those that do not. */
  private val ShingleN = 3

  /** Doc-frequency cap of the posting-list pair operators: shingles and
    * terms shared by more than 500 documents are dropped before pairing. */
  private val DocFreqCap: Option[Int] = Some(500)

  /** Cosine threshold of the TF-IDF pair operators. */
  private val TfidfThreshold = 0.5

  /** Scoped persist: each operator keys its reused intermediate; a repeated
    * call (new corpus, bench re-run) releases the previous call's blocks
    * instead of accumulating MEMORY_AND_DISK caches for the lifetime of the
    * session. At most one cached intermediate per operator key is alive;
    * unpersist is non-blocking (correctness never depends on the cache —
    * dropped blocks recompute). */
  private val lastPersisted =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def persistScoped(key: String, df: DataFrame): DataFrame = {
    // skip the persist call when the plan is already cached (two scoped
    // keys can normalize to the same plan) — CacheManager would keep the
    // existing entry anyway but logs a WARN per call, flooding the bench
    // log with "Asked to cache already cached data" noise
    val p =
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = lastPersisted.put(s"${df.sparkSession.hashCode}:$key", p)
    // Spark's CacheManager dedups by plan: a repeated call over the SAME
    // plan shares one cache entry, and unpersisting the old handle would
    // drop the (warm) entry the new call is about to use — only release
    // when the plan actually changed (new corpus / params)
    if (prev != null && (prev ne p) &&
        !prev.queryExecution.analyzed.sameResult(p.queryExecution.analyzed))
      prev.unpersist(blocking = false)
    p
  }

  /** Persist an expensive upstream DataFrame under an operator-scoped key,
    * for pipelines whose input feeds a self-join ([[exact]]'s keep/probe
    * sides would otherwise each re-evaluate the upstream from the scan —
    * e.g. a regex-heavy scoring battery computed twice). Same lifecycle as
    * the internal caches: one live entry per key, released on the next call
    * with a different plan or by [[releaseCaches]]. */
  def reuse(key: String, df: DataFrame): DataFrame = persistScoped(key, df)

  /** Release every operator-scoped cache — for long-lived sessions moving
    * between corpora (each operator otherwise keeps its most recent
    * intermediate cached for reuse). Safe at any time: dropped blocks
    * recompute, never corrupt. */
  def releaseCaches(): Unit = {
    lastPersisted.values.forEach(_.unpersist(false))
    lastPersisted.clear()
  }

  /** Broadcast pin that stays subordinate to the session's own threshold:
    * an explicit broadcast() hint overrides
    * `spark.sql.autoBroadcastJoinThreshold`, so a session that sets it to
    * -1 to turn broadcasting off would otherwise still broadcast here.
    * When the session has auto-broadcast fully disabled we honor it and
    * leave the join strategy to the planner; everywhere else the hint pins
    * the per-doc side (see the cold-cache misestimate notes at call sites). */
  private def pinBroadcast(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        .trim.startsWith("-1")) df
    else broadcast(df)

  // --- exact -------------------------------------------------------------

  /** One surviving row per distinct key tuple — the canonical survivor is
    * the minimum of `idCol` (deterministic, unlike dropDuplicates' arbitrary
    * first-seen row; `idCol` is an id — unique per row).
    *
    * Single-pass by construction: GroupedTopK k=1 ordered by `idCol` asc is
    * the min-id survivor with one scan of the input and a one-row-per-
    * mapper-per-key shuffle. The earlier groupBy + left-semi formulation
    * evaluated the input twice (keep and probe sides), silently pushing a
    * persist obligation onto every caller whose upstream was expensive —
    * a 4× regex battery in one composed pipeline. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    graft.plans.GroupedTopK(df, keyCols, Seq(col(idCol).asc), 1)

  /** Duplicate-group summary: key, surviving id, group size. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup keeping the BEST row per key group instead of the
    * min-id row: survivor = argmax of `better` (ties broken by ascending
    * `idCol`, so the choice is total and deterministic). Curation pipelines
    * keep the longest / highest-quality duplicate, not the earliest.
    * Runs through the GroupedTopK bounded-heap operator with k=1 — no
    * per-group sort, shuffle bounded at one row per mapper per group. */
  def exactKeepBest(df: DataFrame, keyCols: Seq[String], idCol: String,
                    better: Column): DataFrame =
    graft.plans.GroupedTopK(df, keyCols,
      Seq(better.desc, col(idCol).asc), 1)

  /** Incremental exact dedup — the daily-ingest shape: survivors of a NEW
    * batch against an already-curated corpus. Within-batch exact dedup
    * first (min-`idCol` survivor per key tuple), then an anti-join against
    * the seen key set drops anything the corpus already holds.
    *
    * Scale design: `seenKeys` needs only the key columns — at 100 TB the
    * accumulated state is a narrow fingerprint table (16 bytes/doc for
    * md5), not the corpus itself, and the anti-join shuffles batch-sized
    * data against it (or broadcasts, when a day's fingerprints fit). The
    * within-batch pass is the same map-side-combine groupBy as [[exact]].
    * Both joins key on the fingerprint — co-partitioned, one shuffle
    * boundary each. */
  def incrementalExact(batch: DataFrame, seenKeys: DataFrame,
                       keyCols: Seq[String], idCol: String): DataFrame =
    exact(batch, keyCols, idCol)
      .join(seenKeys.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_anti")

  /** Bloom-prefiltered incremental exact dedup: [[incrementalExact]] with
    * the corpus-side state compressed into a Bloom sketch. Output is
    * ROW-IDENTICAL to incrementalExact for every fpp — the sketch only
    * routes: rows whose key the filter has definitely never seen skip the
    * anti-join entirely; possible-positives verify exactly against the true
    * key set, so a false positive costs a join probe, never a dropped row.
    *
    * Why this is the 100 TB state shape: at 10⁹ seen documents the md5
    * fingerprint table is ~16 GB of join-side state, the 1%-fpp sketch is
    * ~1.2 GB and broadcastable — and (1 − fpp) of the genuinely-new rows
    * (the vast majority of a daily batch) never shuffle at all. The sketch
    * is also mergeable across days (`BloomFilter.mergeInPlace`), the same
    * incremental-state contract as the HLL distinct sketches.
    *
    * `keyCol` must be a string (md5 hex fingerprint) or long (64-bit hash)
    * column. The sketch is built with one aggregation over `seenKeys`
    * (`DataFrameStatFunctions.bloomFilter` — distributed build, driver
    * holds only the bit array). */
  def bloomIncremental(batch: DataFrame, seenKeys: DataFrame,
                       keyCol: String, idCol: String,
                       fpp: Double = 0.01): DataFrame = {
    val seen = reuse(s"bloom:seen:$keyCol",
      seenKeys.select(col(keyCol)).distinct())
    val nSeen = math.max(seen.count(), 1L)
    val bloom = seen.stat.bloomFilter(keyCol, nSeen, fpp)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      bloom.writeTo(out)
      out.toByteArray
    }
    val spark = batch.sparkSession
    // the survivor set feeds BOTH routing branches — persist it once
    val surv = reuse(s"bloom:surv:$keyCol", exact(batch, Seq(keyCol), idCol))
    val mightSeen = coalesce(
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.BloomMightContain(
          org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
            spark, surv(keyCol)), bytes)),
      // a NULL key never matches an anti-join either — route it to the
      // definite-new branch so output matches incrementalExact exactly
      lit(false))
    // definite-new rows bypass the join; possible-positives verify exactly
    surv.filter(!mightSeen).unionByName(
      surv.filter(mightSeen).join(seen, Seq(keyCol), "left_anti"))
  }

  // --- winnowing fingerprints (Schleimer et al., SIGMOD'03) ---------------

  /** Winnowing fingerprint set per document: hash every word-`k`-gram, then
    * keep the minimum hash of each sliding window of `w` consecutive grams
    * (distinct per document). Guarantees of the published algorithm: any
    * shared run of at least `w + k - 1` tokens between two documents yields
    * at least one shared fingerprint, while only ~2/(w+1) of gram hashes
    * are retained — position-robust partial-overlap detection at a fraction
    * of full-shingle cost.
    *
    * Gram hashes are the first 16 hex chars of md5 over the
    * space-joined gram (cross-engine-reproducible, so the DuckDB oracle can
    * recompute the identical set; lexicographic min on lowercase hex ==
    * numeric min on the 64-bit value). Window selection is partitioned by
    * document — bounded by document length, no global sort. Documents with
    * fewer than `w` grams contribute their single global-min fingerprint;
    * documents shorter than `k` tokens contribute none. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      expr(s"split(lower(trim($textCol)), '\\\\s+')").as("tk"))
    val gramArr =
      s"""CASE WHEN size(tk) >= $k
         |  THEN transform(sequence(1, size(tk) - ${k - 1}),
         |       i -> substring(md5(concat_ws(' ', slice(tk, i, $k))), 1, 16))
         |  ELSE CAST(array() AS array<string>) END""".stripMargin
    // posexplode_outer + null filter: a plain explode re-inlines the whole
    // gram expression into inferred generator filters (see shingles)
    val grams = toks
      .select(col(idCol), posexplode_outer(expr(gramArr)).as(Seq("p0", "gh")))
      .filter(col("gh").isNotNull)
      .select(col(idCol), (col("p0") + 1).as("i"), col("gh"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("i"))
    grams
      .withColumn("fp",
        min(col("gh")).over(byPos.rowsBetween(Window.currentRow, w - 1)))
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("i") <= greatest(col("ng") - (w - 1), lit(1)))
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Near-dup candidate pairs by shared winnowing fingerprints — the MOSS
    * use of [[winnowFingerprints]]: docs sharing at least 2
    * selected fingerprints (each shared fingerprint witnesses a shared
    * k-gram; winnowing guarantees coverage of shared runs ≥ w+k-1 tokens).
    * `maxDocFreq` drops boilerplate fingerprints shared by more than that
    * many docs before pairing (same quadratic-blowup control as
    * [[ngramJaccardPairs]]; deterministic, so an oracle can replicate it). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 5,
                  maxDocFreq: Option[Int] = DocFreqCap): DataFrame = {
    val fp = persistScoped(s"winnow:$idCol:$textCol:$k:$w",
      winnowFingerprints(df, idCol, textCol, k, w))
    val docFreq = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val keep = docFreq
      .filter(col("df") >= 2 &&
        maxDocFreq.map(cap => col("df") <= cap).getOrElse(lit(true)))
      .select(col("fp"))
    val kept = fp.join(keep, Seq("fp"), "left_semi")
    kept.select(col(idCol).as("id_a"), col("fp"))
      .join(kept.select(col(idCol).as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
  }

  // --- span-level duplicate detection (Lee et al., ACL'22 family) ---------

  /** Duplicated token SPANS — the practical large-scale variant of exact
    * substring deduplication: hash every word-`L`-gram, keep grams whose
    * full text occurs at least twice in the corpus
    * (across or within documents), then merge each document's overlapping
    * or adjacent duplicated gram intervals into maximal spans.
    * Returns (id, span_start, span_end, n_dup_grams) with 1-based inclusive
    * token indices — the regions a curation pipeline would cut, without
    * removing whole documents.
    *
    * Fixed-length gram matching approximates the suffix-array computation:
    * every duplicated substring of ≥ `L` tokens is found exactly (it
    * contains a duplicated L-gram at every offset); shorter repeats are
    * ignored by design. All stages are hash-shuffles and per-document
    * windows (interval merge is the classic gaps-and-islands form) — no
    * global sort, no driver state. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     L: Int = 20): DataFrame = {
    require(L >= 1, s"L=$L must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // Gram identity via the fixed-width token-hash chain (see shingles) —
    // no per-position gram STRING is ever built. Hash values never appear
    // in the output (only positions do), so gram equality is all that
    // matters and an oracle hashing the gram text differently still agrees
    // modulo 64-bit collisions.
    val toks = df.select(col(idCol),
      expr(s"transform(split(lower(trim($textCol)), '\\\\s+')," +
        " x -> xxhash64(x))").as("th"))
    val hashArgs = (0 until L).map(j => s"element_at(th, i + $j)")
      .mkString(", ")
    val gramArr =
      s"""CASE WHEN size(th) >= $L
         |  THEN transform(sequence(1, size(th) - ${L - 1}),
         |       i -> xxhash64($hashArgs))
         |  ELSE CAST(array() AS array<bigint>) END""".stripMargin
    val grams = toks
      .select(col(idCol), posexplode_outer(expr(gramArr)).as(Seq("p0", "gh")))
      .filter(col("gh").isNotNull)
      .select(col(idCol), (col("p0") + 1).as("i"), col("gh"))
    val dupKeys = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("gh"))
    val dupPos = grams.join(dupKeys, Seq("gh"), "left_semi")
      .select(col(idCol), col("i"), (col("i") + (L - 1)).as("e"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val prevMaxEnd = max(col("e"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("isl",
        when(prevMaxEnd.isNull || col("i") > prevMaxEnd + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("isl")).over(byPos))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("i")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("grp")
  }

  /** Apply [[duplicateSpans]]: rebuild each document's text with the
    * duplicated token spans CUT OUT (whitespace-normalized, tokens joined
    * by single spaces). Documents with no duplicated spans pass through
    * with normalized whitespace; documents that were entirely duplicated
    * spans come back empty. Per-document work only: the span join is on
    * document id (a handful of span rows per doc) and the re-assembly
    * sorts each document's own tokens — bounded by document length. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
                  L: Int = 20): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, L)
      .select(col(idCol), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("p0", "w")))
      .filter(col("w").isNotNull)
      .select(col(idCol), (col("p0") + 1).as("i"), col("w"))
    val cut = toks.join(spans,
        toks(idCol) === spans(idCol) &&
          col("i") >= col("span_start") && col("i") <= col("span_end"),
        "left_anti")
    cut.groupBy(col(idCol))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("w")))),
          s => s.getField("w")), " ").as("clean_text"))
  }

  /** CCNet-style corpus-wide exact segment dedup (Wenzek et al., LREC 2020
    * dedup lines across ALL of Common Crawl; here "lines" are fixed
    * `segWords`-word segments since the synthetic corpus has no newlines).
    * Every segment is fingerprinted; the corpus-wide FIRST occurrence (min
    * (doc, segment-index)) survives, every later exact copy — in other
    * documents or later in the same one — is cut. Returns one row per doc:
    * segment counts, duplicate ratio, and the rebuilt text with duplicate
    * segments removed.
    *
    * Scale design: one map-side chunking pass; the canonical-occurrence
    * table is a groupBy(fingerprint) min-struct aggregation (map-side
    * combined, no per-key window), joined back on the fingerprint —
    * high-cardinality, skew-free keys. Per-doc reassembly sorts only each
    * document's own segments. State is (fp, doc, seg) — narrow at any
    * corpus size, and mergeable across ingestion batches exactly like the
    * incremental-dedup fingerprint battery. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int): DataFrame = {
    require(segWords > 0, s"segWords=$segWords must be positive")
    val segs = Curation.chunkDocuments(df, idCol, col(textCol), segWords, 0)
      .select(col(idCol), col("chunk_ix"), col("chunk_text"),
        md5(col("chunk_text")).as("__fp"))
    val canon = segs.groupBy(col("__fp"))
      .agg(min(struct(col(idCol), col("chunk_ix"))).as("__c"))
      .select(col("__fp"), col("__c")(idCol).as("__cid"),
        col("__c")("chunk_ix").as("__cix"))
    segs.join(canon, Seq("__fp"))
      .withColumn("__dup",
        !(col(idCol) === col("__cid") && col("chunk_ix") === col("__cix")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("__dup"), lit(1L)).otherwise(lit(0L))).as("n_dup"),
        array_join(transform(
            array_sort(collect_list(when(!col("__dup"),
              struct(col("chunk_ix"), col("chunk_text"))))),
            s => s.getField("chunk_text")), " ").as("clean_text"))
      .withColumn("dup_ratio",
        round(col("n_dup").cast("double") / col("n_seg"), 6))
  }

  /** Exact-substring dedup at ARBITRARY alignment with keep-first
    * semantics — the remaining member of the Lee et al. (ACL 2022
    * "Deduplicating Training Data Makes Language Models Better") family:
    * every token position's `L`-token window (the position's suffix
    * truncated to `L` tokens) is keyed by the md5 of its EXACT text;
    * grouping equal keys is the distributed, shuffle-friendly form of
    * sorting the suffixes and detecting adjacent equal runs. The
    * corpus-wide FIRST occurrence — min (doc, offset), the
    * [[segmentDedup]] min-struct canonicalization — of each duplicated
    * window survives; every LATER copy (any document, any offset, aligned
    * or not) is flagged, and flagged positions merge per document into
    * maximal cut spans (the [[duplicateSpans]] gaps-and-islands form). A
    * single 49-token copy at an unaligned offset therefore comes back as
    * ONE [start, end] span covering exactly the copied run, while the
    * donor document keeps its text.
    *
    * Returns (id, span_start, span_end, n_dup_windows), 1-based inclusive
    * token indices, one row per maximal span to cut.
    *
    * vs [[duplicateSpans]]: that operator flags EVERY occurrence
    * (including the first) and keys windows by the xxhash64 chain —
    * the narrowest-shuffle scale path. This one implements the
    * keep-first-copy policy a Lee-et-al pipeline actually applies, and
    * keys by exact text digest, so it is oracle-replayable with zero
    * collision caveats. Scale shape is identical: the L-token window
    * string exists only executor-locally inside the projection (the
    * shuffle carries the 16-byte digest), the canonical table is one
    * map-side-combined min-struct aggregation, and span assembly is a
    * per-document window — no global sort, no driver state. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     L: Int = 20): DataFrame = {
    require(L >= 1, s"L=$L must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      expr(tokensExpr(textCol)).as("tk"))
    val winArr =
      s"""CASE WHEN size(tk) >= $L
         |  THEN transform(sequence(1, size(tk) - ${L - 1}),
         |       i -> md5(array_join(slice(tk, i, $L), ' ')))
         |  ELSE CAST(array() AS array<string>) END""".stripMargin
    val wins = toks
      .select(col(idCol), posexplode_outer(expr(winArr)).as(Seq("p0", "fp")))
      .filter(col("fp").isNotNull)
      .select(col(idCol), (col("p0") + 1).as("i"), col("fp"))
    val canon = wins.groupBy(col("fp"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col(idCol), col("i"))).as("__c"))
    val dup = wins.join(canon, Seq("fp"))
      .filter(col("occ") >= 2 &&
        !(col(idCol) === col("__c")(idCol) && col("i") === col("__c")("i")))
      .select(col(idCol), col("i"), (col("i") + (L - 1)).as("e"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val prevMaxEnd = max(col("e"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("isl",
        when(prevMaxEnd.isNull || col("i") > prevMaxEnd + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("isl")).over(byPos))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("i")).as("span_start"), max(col("e")).as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .drop("grp")
  }

  // --- shingling ---------------------------------------------------------

  /** Distinct word-n-gram shingles, one row per (id, shingleHash). Tokens
    * are hashed to 64 bits first and each shingle is the xxhash64 of its n
    * token hashes — no per-position shingle STRING is ever built (the
    * concat-then-hash alternative allocates an interpolated string per
    * (doc, position); this pipeline is all fixed-width long arithmetic
    * after tokenization, and it halved the dedup bench's dominant stage).
    * Tokens cannot contain whitespace, so hash-tuple identity equals
    * string-shingle identity modulo 64-bit collisions. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               n: Int = ShingleN): DataFrame = {
    val t = tokensExpr(textCol)
    val hashArgs = (0 until n).map(j => s"element_at(th, i + $j)")
      .mkString(", ")
    // guard: sequence(1, 0) in Spark is DESCENDING [1,0], not empty — docs
    // shorter than n tokens must yield an empty shingle set explicitly
    val shingleArr =
      s"""CASE WHEN size(th) >= $n
         |  THEN transform(sequence(1, size(th) - ${n - 1}),
         |                 i -> xxhash64($hashArgs))
         |  ELSE CAST(array() AS array<bigint>) END""".stripMargin
    // explode_outer + attribute-level null filter, NOT explode: a plain
    // explode makes the optimizer infer size/isnotnull filters beneath the
    // Generate, and predicate pushdown re-inlines the whole token-hash +
    // shingle expression into them — evaluating the dominant per-row work
    // of the dedup family ~3× instead of once.
    df.select(col(idCol), expr(s"transform($t, x -> xxhash64(x))").as("th"))
      .select(col(idCol), explode_outer(expr(shingleArr)).as("sh"))
      .filter(col("sh").isNotNull)
      .distinct()
  }
  private def tokensExpr(textCol: String): String =
    s"split(lower(trim($textCol)), '\\\\s+')"

  /** Per-id shingle counts (set sizes for Jaccard). */
  def shingleSizes(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("sh_n"))

  /** Doc-frequency diagnostics at the same shingle settings: total
    * distinct shingles, the max doc-frequency, and how many shingles a cap
    * of `cap` would drop — the explicit tool for choosing/validating
    * `maxDocFreq` on a corpus. One cheap aggregation pass; run it when
    * sizing a cap rather than trusting defaults blindly. This is THE
    * truncation-visibility path: inline observe() metrics were dropped
    * from the capped operators (AQE detaches CollectMetrics accumulators,
    * and the shared posting-list cache would hide them from the consuming
    * query) in favor of canonical shareable plans. */
  def shingleCapStats(df: DataFrame, idCol: String, textCol: String,
                      cap: Int = 500): DataFrame =
    shingles(df, idCol, textCol)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("distinct_shingles"),
        max(col("df")).as("max_doc_freq"),
        sum(when(col("df") > cap, 1L).otherwise(0L))
          .as("shingles_over_cap"))

  // --- n-gram Jaccard ----------------------------------------------------

  /** All id pairs (a < b) with word-n-gram Jaccard similarity ≥ threshold.
    * Exact computation: shingle posting lists → per-pair intersection
    * counts → |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxDocFreq` (ON by default) drops shingles shared by more than that
    * many documents before any pair is emitted: a single stop-phrase shingle
    * ("terms and conditions apply") shared by k docs would otherwise emit
    * k²/2 pairs — quadratic blowup on exactly the corpora this operator
    * targets. Near-dup pairs above a high threshold share many rare
    * shingles, so a generous cap leaves results unchanged on natural text
    * (verified against the exact oracle in the gated query); pass `None` to
    * opt into the exact-but-unbounded computation. Size the cap with
    * [[shingleCapStats]], the one-pass truncation diagnostic. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8,
                        maxDocFreq: Option[Int] = DocFreqCap): DataFrame = {
    // persisted: consumed by the size and posting aggregations; scoped so a
    // repeated call releases the previous call's blocks (see persistScoped)
    val sh = persistScoped(s"ngram:$idCol:$textCol:$ShingleN",
      shingles(df, idCol, textCol))
    val sizes = shingleSizes(sh, idCol)
    jaccardAbove(commonCounts(sh, idCol, textCol, ShingleN, maxDocFreq),
      sizes, idCol, threshold)
  }

  /** The exact Jaccard verifier every n-gram pair operator ends in:
    * attach both set sizes (`sizes`: idCol, sh_n) to the per-pair
    * intersection counts (`common`: id_a, id_b, common) and keep pairs
    * with |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold. */
  private def jaccardAbove(common: DataFrame, sizes: DataFrame, idCol: String,
                           threshold: Double): DataFrame =
    common
      .join(sizes.select(col(idCol).as("id_a"), col("sh_n").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sh_n").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Shared-shingle counts for candidate pairs (id_a, id_b), driven FROM
    * the candidate set: `cands ⋈ sh(id_a) ⋈ sh(id_b, sh)`, so intersection
    * work is proportional to |candidates| × shingles-per-doc. */
  private def sharedShingles(cands: DataFrame, sh: DataFrame,
                             idCol: String): DataFrame =
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))

  /** Per-pair shared-shingle counts via posting lists: group ids per
    * shingle once, emit in-bucket pairs, count.
    *
    * Doc frequency is computed FIRST (a count-only aggregate — fixed-size
    * buffers, full map-side combine) and shingles outside [2, cap] are
    * dropped by semi-join BEFORE any posting list materializes, so no agg
    * buffer ever holds an unbounded hot-shingle list. Truncation is never
    * silent: [[shingleCapStats]] reports the cap's effect on a corpus in
    * one cheap pass. (An earlier revision also attached inline observe()
    * metrics here; they were dropped deliberately — AQE stage cloning
    * detaches CollectMetrics accumulators, and the cache below would hide
    * them from the consuming query's execution anyway — in exchange for a
    * canonical, byte-identical plan that every caller can share.) */
  private def commonCounts(sh: DataFrame, idCol: String, textCol: String,
                           n: Int, maxDocFreq: Option[Int]): DataFrame = {
    val docFreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val keep = docFreq
      .filter(col("df") >= 2 &&
        maxDocFreq.map(cap => col("df") <= cap).getOrElse(lit(true)))
      .select(col("sh"))
    // Persisted under an operator-agnostic key: Jaccard, containment, and
    // edit-distance dedup all derive from this SAME posting-list pair
    // aggregate (identical plan when called over the same shingle set and
    // cap), and it is the dominant stage of each — one cached copy serves
    // every lexical-pair operator in the session. Bounded: one row per
    // candidate pair that shares ≥ 1 informative (df ≤ cap) shingle, three
    // fixed-width columns; MEMORY_AND_DISK, so an oversized pair set
    // spills instead of evicting or OOMing. The key carries the shingle
    // parameters (textCol, n) alongside the cap — distinct shingle
    // configurations occupy distinct slots instead of thrashing one.
    persistScoped(s"common:$idCol:$textCol:$n:$maxDocFreq",
      sh.join(keep, Seq("sh"), "left_semi")
        .groupBy(col("sh"))
        .agg(collect_list(col(idCol)).as("ids"))
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(col("ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("common")))
  }

  // --- containment (asymmetric near-dup) ----------------------------------

  /** Directed containment pairs: every ordered (id_a, id_b), a ≠ b, with
    * containment(A→B) = |A∩B| / |A| ≥ threshold over word-n-gram shingle
    * sets. Containment is the asymmetric twin of Jaccard: a short document
    * quoted wholesale inside a long one has high containment but LOW
    * Jaccard (the size imbalance dilutes the union), so Jaccard-threshold
    * dedup systematically misses subset/quotation duplication — the case
    * containment exists for. Each undirected intersection count yields two
    * directed rows normalized by the respective source size.
    *
    * Scale design: identical to [[ngramJaccardPairs]] — the intersection
    * counts come from the same doc-frequency-capped posting-list plan
    * (count-only doc-freq aggregate first, hot shingles semi-joined out
    * before any posting list materializes), and the direction expansion is
    * a map-side union of two projections of that bounded pair set. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8): DataFrame = {
    val sh = persistScoped(s"contain:$idCol:$textCol:$ShingleN",
      shingles(df, idCol, textCol))
    val sizes = shingleSizes(sh, idCol)
    // persistScoped: the intersection-count aggregation (the dominant
    // posting self-join) feeds BOTH direction projections of the union —
    // unpersisted it executes twice
    val undirected = persistScoped(s"contain:pairs:$idCol:$textCol:$ShingleN",
      commonCounts(sh, idCol, textCol, ShingleN, DocFreqCap))
    val directed = undirected
      .unionAll(undirected.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("common")))
    directed
      .join(sizes.select(col(idCol).as("id_a"), col("sh_n").as("n_a")), "id_a")
      .withColumn("containment",
        col("common").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  // --- edit-distance verified near-identical pairs -------------------------

  /** Near-identical pairs by EDIT distance: candidate pairs from the
    * doc-frequency-capped shingle posting plan (share ≥ 1 informative
    * word-n-gram), verified with `levenshtein(text_a, text_b)` against a
    * relative bound `maxRel · max(len_a, len_b)`. Edit distance is the
    * right verify metric when ORDER and small in-place edits matter (OCR
    * noise, template fill-ins): shingle-set Jaccard can rate a lightly
    * scrambled document highly, while a character-level metric charges
    * every transposition.
    *
    * Scale design: the O(len²) Levenshtein kernel runs ONLY on surviving
    * candidate pairs, and the blocking is two-stage. (1) candidates must
    * share ≥ `minCommon` informative shingles — near-identical documents
    * share almost ALL their shingles (at maxRel=0.3 on the bench corpus
    * the sparsest qualifying pair still shares 8; the default 5 keeps 100%
    * recall while cutting candidates ~4000×), so a 1-shared-shingle
    * candidate set would be quadratic noise. (2) a LOSSLESS length band —
    * levenshtein(a,b) ≥ |len(a)−len(b)|, so pairs whose length gap already
    * exceeds the bound are dropped before the DP kernel runs. Candidates
    * travel as bare id pairs off the capped posting lists (same plan as
    * [[ngramJaccardPairs]]); texts re-attach by two id joins, so no text
    * payload rides through the posting-list shuffle. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = ShingleN, maxRel: Double = 0.3,
                        minCommon: Int = 5): DataFrame = {
    val sh = persistScoped(s"edit:$idCol:$textCol:$n",
      shingles(df, idCol, textCol, n))
    val cands = commonCounts(sh, idCol, textCol, n, DocFreqCap)
      .filter(col("common") >= minCommon)
      .select(col("id_a"), col("id_b"))
    val bound =
      lit(maxRel) * greatest(length(col("__ta")), length(col("__tb")))
    cands
      .join(df.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= bound)
      // banded kernel: the per-row integer bound rides in as levenshtein's
      // threshold argument, turning the O(len²) DP into O(bound·len) with
      // early abort (-1 when exceeded — exactly the rows the predicate
      // drops anyway). Equivalent to the unbounded form because
      // edit ≤ bound ⟺ edit ≤ ⌊bound⌋ for integer edit distances.
      .withColumn("__k", floor(bound).cast("int"))
      .withColumn("edit_dist",
        expr("levenshtein(__ta, __tb, __k)"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  // --- n-gram novelty ------------------------------------------------------

  /** Per-document n-gram novelty: of a document's distinct word-n-gram
    * shingles, the fraction occurring in NO other document. Low novelty
    * flags boilerplate-heavy or template-generated documents whose content
    * is mostly shared with the rest of the corpus; high novelty marks the
    * unique tail worth keeping — a corpus-level diversity signal that
    * pairwise dedup (which only sees documents two at a time) cannot
    * produce. Documents shorter than n tokens have no shingles and are
    * absent from the output.
    *
    * Scale design: two count-only aggregations (doc-frequency per shingle,
    * then per-document counts after a re-join on the 8-byte shingle hash) —
    * fixed-size buffers, full map-side combine, no posting lists, no cap
    * needed. The ratio is an exact integer-to-double division, so the
    * scores are bit-reproducible across engines. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val sh = persistScoped(s"novel:$idCol:$textCol:$ShingleN",
      shingles(df, idCol, textCol))
    val docFreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(docFreq, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_shingles"))
      .withColumn("novelty",
        col("novel_shingles").cast("double") / col("n_shingles").cast("double"))
  }

  // --- TF-IDF sparse cosine similarity -------------------------------------

  /** Sparse TF-IDF weights over word-n-gram terms: one row per
    * (document, term) with weight = tf · idf, where tf is the raw
    * within-document term count and idf = round(ln((1+N)/(1+df)) + 1, 6)
    * (smoothed so no kept term is zero-weighted; rounded so the one-ulp
    * divergence between libm and java.lang.Math log disappears and
    * downstream scores stay engine-portable). Terms with doc-frequency
    * above [[DocFreqCap]] are dropped BEFORE weighting — they carry the least
    * information (idf ≈ floor) and are exactly the hot inverted-index keys
    * that would make the pair join quadratic. N counts documents with at
    * least one shingle; norms are over each document's kept terms. */
  def tfidfWeights(df: DataFrame, idCol: String, textCol: String,
                   n: Int = ShingleN): DataFrame = {
    val tf = persistScoped(s"tfidf:$idCol:$textCol:$n",
      shingleTf(df, idCol, textCol, n))
    val docFreq = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(DocFreqCap.map(cap => col("df") <= cap).getOrElse(lit(true)))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(docFreq, "sh")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        round(log((lit(1) + col("n_docs")) / (lit(1) + col("df"))) + 1, 6))
      .select(col(idCol), col("sh"), (col("tf") * col("idf")).as("wgt"))
  }

  /** Pair-incidence budget per posting task: each in-bucket ordered pair
    * is one partial-aggregate hash entry (~64 B: two long-hashed doc keys,
    * the running dot, map overhead), so 1.5M incidences ≈ 96 MB raw per
    * task — sized to FIT the worst-case per-task execution grant we run
    * under (8 GB heap × 0.6 fraction / 32 concurrent tasks ≈ 150 MB; any
    * production executor with fewer cores per GB grants more), so the
    * partial pair aggregate stays in memory instead of sort-spilling its
    * whole volume. r10 A/B at x30 (MemProbe normal, hash-identical across
    * all three): 4M → 185.9 s / 245 GB mem-spill / 132.8 s GC; 1.5M →
    * 167.2 s / 205 GB / 96.5 s; 750k → 171.3 s / 109 GB / 110.7 s (task
    * overhead starts losing the spill win). The residual spill lives in
    * the pair SUM aggregate, not this constant. np is a pure function of
    * the CORPUS, so normal/tight probe runs partition — and sum —
    * identically. */
  private val TargetPairIncidencesPerTask = 1500000L

  /** Posting-bucket partition count sized to the PAIR EXPLOSION (see the
    * r10 note on [[tfidfCosinePairs]]): Σ_t df(t)·(df(t)−1)/2 over the
    * capped posting table is exactly the number of in-bucket ordered pairs
    * the posting plan generates — one linear count aggregate, driver state
    * = one double. None ⇒ the session partition count already bounds
    * per-task explosion (small corpora: plan unchanged, nothing eager
    * beyond the aggregate itself). The 8192 cap bounds task-launch
    * overhead; a corpus past 8192 × 1.5M ≈ 1.2×10¹⁰ incidences is far
    * beyond where this EXACT all-pairs path is the right tool (use the
    * prefix/auto or capped ngram/minhash family — the standing verdict). */
  private def postingPairParts(w: DataFrame): Option[Int] = {
    val session =
      w.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val r = w.groupBy(col("sh"))
      .agg(count(lit(1)).as("c"))
      // double sums: Σ df² overflows Long on an uncapped 100 TB corpus
      .agg(sum(col("c").cast("double") * (col("c").cast("double") - 1) / 2)
        .as("m"))
      .head()
    val incidences = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    val np =
      math.ceil(incidences / TargetPairIncidencesPerTask).toInt
    if (np <= session) None else Some(math.min(np, 8192))
  }

  /** All id pairs (a < b) with TF-IDF cosine similarity ≥ threshold over
    * word-n-gram terms — lexical near-dup/similarity scoring that, unlike
    * set-based Jaccard, weighs WHICH terms two documents share: rare-term
    * overlap counts for much more than stop-phrase overlap, so it separates
    * "shares boilerplate" from "shares content" without needing embeddings.
    *
    * cosine(a,b) = Σ_t w_a(t)·w_b(t) / (‖w_a‖·‖w_b‖), computed sparsely:
    * the dot product sums over shared terms only, via the same
    * posting-list plan as [[ngramJaccardPairs]] (doc-freq cap first, then
    * per-term (id, weight) lists, in-bucket ordered pairs, partial-agg
    * sum) — no dense vectors, no cartesian product. Norms are one
    * count-style aggregate per document over its kept terms.
    *
    * Determinism note: the dot/norm sums are order-sensitive IEEE double
    * additions, so cross-engine comparisons must round — both the emitted
    * score and the threshold test use round(·, 6), making the qualifying
    * pair set itself engine-portable (a raw `cos ≥ t` test could disagree
    * across engines for a pair a few ulps from the threshold).
    *
    * EAGER since r10 (like [[tfidfCosinePairsAuto]]): CONSTRUCTION runs
    * the posting build plus one count aggregate to size the pair-explosion
    * stage to the corpus (see the in-body note) — the materialized cache
    * is reused by the returned plan, so total work is unchanged; callers
    * composing plans without executing them pay the posting build early. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = ShingleN, threshold: Double = TfidfThreshold)
      : DataFrame = {
    // persisted: consumed by both the norm aggregate and the posting-list
    // dot product; scoped lifecycle (released on the next call / releaseCaches)
    val w = persistScoped(s"tfidfW:$idCol:$textCol:$n:$DocFreqCap",
      tfidfWeights(df, idCol, textCol, n))
    // EAGER pair-shuffle sizing (r10, the x30 fan-in fix): one count
    // aggregate over the just-persisted posting table (the action also
    // materializes the cache every later stage reuses, so the work is
    // rescheduled, not added) measures the pair EXPLOSION Σ df·(df−1)/2 —
    // the one volume AQE cannot size from map-output bytes, because it
    // happens downstream of the posting exchange (a 64 MB posting
    // partition explodes ~df-fold). When the explosion outgrows the
    // session partition count, the posting aggregate is explicitly
    // repartitioned so each task explodes a bounded slice: the r9 x30
    // probe ran this plan with 32 posting tasks × ~100M incidences each,
    // and the partial pair aggregate's sort-fallback spilled hundreds of
    // files per task whose merge readers (1 MiB-floored buffers) OOM'd a
    // 3 GB heap — the fan-in was a partition-count artifact, not operator
    // working set. np is a deterministic function of the corpus, so
    // normal/tight probe runs partition identically (hash parity).
    val pairParts = postingPairParts(w)
    // norms persisted too: it feeds TWO broadcast builds (id_a and id_b
    // sides) whose projections alias differently, so exchange reuse does
    // not kick in and each build would re-aggregate the posting table
    // (profiled at ~7 s apiece at 10× probe scale). 16 bytes/doc.
    val norms = persistScoped(s"tfidfN:$idCol:$textCol:$n:$DocFreqCap",
      w.groupBy(col(idCol))
        .agg(sqrt(sum(col("wgt") * col("wgt"))).as("nrm")))
    // explicit repartition (pair-mass-sized) satisfies the self-join's
    // clustering requirement on the term key, so the join plans WITHOUT a
    // second exchange. The pair aggregate below keeps its partial/final
    // split: map-side combine collapses same-pair contributions within a
    // posting task (near-dup pairs share many terms), which an explicit
    // repartition of raw pair rows would forfeit.
    val postings = pairParts match {
      case Some(np) => w.repartition(np, col("sh"))
      case None     => w
    }
    // Pair generation: codegen'd self-join on the term key. Both sides
    // read the SAME user-specified repartition (exchange reuse = one
    // shuffle), the merge join buffers at most df <= DocFreqCap rows per
    // key, and every pair row stays an UnsafeRow end-to-end. It beat a
    // collect_list-per-term + double-explode plan (a non-codegen
    // ObjectHashAggregate) at x30 with identical hashes; the A/B is in
    // OPTIMIZATION_r10.md.
    val dots =
      postings.select(col("sh"), col(idCol).as("id_a"), col("wgt").as("wa"))
        .join(
          postings.select(col("sh").as("shb"), col(idCol).as("id_b"),
            col("wgt").as("wb")),
          col("sh") === col("shb") && col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(col("wa") * col("wb")).as("dot"))
    // norm joins: EXPLICIT broadcast of the per-doc norms side. Left to
    // itself the planner picked this locally, but under multi-process
    // executors with a cold posting cache its static size estimate
    // flipped and it tried to broadcast the PAIR side (8 GiB abort at
    // 10x — AQE cannot demote a planned broadcast join), so the choice
    // is pinned. Ceiling, honestly: norms is 16 bytes/kept doc, so the
    // broadcast holds to ~4e8 docs — far past the point where this
    // EXACT all-pairs op (pair mass ~ Σ df(t)²) stops being the right
    // tool; at that scale use the prefix/auto path or the capped
    // ngram/minhash family.
    val out = dots
      .join(pinBroadcast(norms.select(col(idCol).as("id_a"),
        col("nrm").as("nrm_a"))), "id_a")
      .join(pinBroadcast(norms.select(col(idCol).as("id_b"),
        col("nrm").as("nrm_b"))), "id_b")
      .withColumn("cosine",
        round(col("dot") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    // The qualifying set (output-sized — only pairs ≥ threshold, never the
    // quadratic candidate intermediate) is persisted: callers almost always
    // follow with a global sort for a deterministic dump, and a
    // range-partitioned sort executes its child TWICE (RangePartitioner
    // bounds sampling, then the real shuffle map pass) — at 30× probe scale
    // that re-ran the dominant spilling aggregate end-to-end (profiled r9).
    // Materializing before the sort is the standard cluster discipline for
    // sorting any expensive computation.
    persistScoped(s"tfidfOut:$idCol:$textCol:$n:$DocFreqCap:$threshold", out)
  }

  /** [[tfidfCosinePairs]] with PREFIX-FILTERED candidate generation
    * (Bayardo et al. WWW'07 all-pairs, adapted to the DataFrame posting
    * plan) — the corpus-scale path for weighted lexical similarity: the
    * round-7 scale probe measured the plain posting-list join tracking
    * Σ_t df(t)² pair growth; this variant generates candidates from each
    * document's weight-bound PREFIX only, and is EXACT (same output).
    *
    * Theorem (lossless): fix the global term order (max normalized
    * weight DESC, term hash ASC) and give every document's term list
    * that order. Let suffix_bound(pos) = Σ_{j≥pos} w'_d(t_j)·maxw(t_j)
    * (w' unit-normalized, maxw the corpus-wide max normalized weight of
    * the term). Since cos(a,b) = Σ_{shared} w'_a·w'_b ≤ suffix_bound of
    * either side restricted to the shared terms, a pair whose FIRST
    * shared term (in the global order) falls in a document's tail —
    * the maximal suffix with bound < t — cannot reach t. So the first
    * shared term of every qualifying pair lies in BOTH prefixes, and
    * joining prefixes only misses nothing. The tail is exactly the
    * low-maxw end of the order, so hot stop-shingles generate no
    * candidates — the [[prefixJaccardPairs]] discipline for the
    * weighted-cosine case.
    *
    * Verification stays byte-identical to [[tfidfCosinePairs]]: the
    * exact dot/norm arithmetic over the RAW weights with the same
    * round(·, 6) emit, so the two operators' outputs hash-equal (the
    * result-equality gate llm_tfidf_pairs_prefix asserts it against the
    * same DuckDB oracle). The prefix bound uses a − 1e-6 epsilon that
    * can only LENGTHEN prefixes: it must cover BOTH float error and the
    * round(·, 6) threshold slack — the plain operator emits pairs whose
    * RAW cosine sits up to 5e-7 below t (rounding up to t), so pruning
    * at exactly t would drop those boundary pairs and break equality.
    *
    * When it wins, honestly: prefix length per document is the point
    * where the remaining weight-bound mass drops below t, so the
    * candidate-mass reduction is governed by WEIGHT SKEW. On a real
    * tf-idf corpus (mass concentrated in few rare terms) prefixes are
    * short and candidates collapse; on the synthetic near-uniform
    * word-soup bench corpus the reduction is only ~(1−t)² of the
    * posting mass and the extra window/join overhead dominates — the
    * measured sf0.1 numbers keep [[tfidfCosinePairs]] as the bench
    * headline, and this variant is the documented skew-regime path
    * (equality-gated so switching is always safe). */
  def tfidfCosinePairsPrefix(df: DataFrame, idCol: String, textCol: String,
                             n: Int = ShingleN,
                             threshold: Double = TfidfThreshold)
      : DataFrame = {
    val (annot, norms) = tfidfPrefixParts(df, idCol, textCol, n, threshold)
    val pref = annot.filter(col("__keep")).select(col("sh"), col(idCol))
    val cands = pref.select(col("sh"), col(idCol).as("id_a"))
      .join(pref.select(col("sh"), col(idCol).as("id_b")), "sh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verify over the FULL term sets with the raw-weight arithmetic
    // of tfidfCosinePairs (same formula, same round) — candidates-first,
    // work proportional to |candidates| × shared terms
    val wa = annot.select(col(idCol).as("id_a"), col("sh"),
      col("wgt").as("wgt_a"))
    val wb = annot.select(col(idCol).as("id_b"), col("sh"),
      col("wgt").as("wgt_b"))
    // explicitly broadcast for the same reason as tfidfCosinePairs'
    // norm joins: a cold-cache misestimate must not broadcast the pair
    // side (same ~4e8-doc ceiling, same argument)
    val na = pinBroadcast(norms.select(col(idCol).as("id_a"),
      col("nrm").as("nrm_a")))
    val nb = pinBroadcast(norms.select(col(idCol).as("id_b"),
      col("nrm").as("nrm_b")))
    val out = cands.join(wa, "id_a").join(wb, Seq("id_b", "sh"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("wgt_a") * col("wgt_b")).as("dot"))
      .join(na, "id_a").join(nb, "id_b")
      .withColumn("cosine",
        round(col("dot") / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    // output-sized persist before the caller's deterministic global sort —
    // same range-sort double-execution argument as tfidfCosinePairs
    persistScoped(
      s"tfidfPOut:$idCol:$textCol:$n:$DocFreqCap:$threshold", out)
  }

  /** Shared machinery of the prefix-filtered TF-IDF path: per-doc `norms`
    * and the ANNOTATED posting table `annot` (id, sh, wgt, __keep) — one
    * row per kept (document, term) carrying the raw weight for the exact
    * verify stage plus a boolean marking whether the row survives the
    * weight-bound PREFIX filter (suffix bound still reaches the threshold
    * — see the lossless-prefix theorem on [[tfidfCosinePairsPrefix]]).
    * One persisted table serves all three consumers — the candidate join
    * (filter __keep), the exact verify (full rows), and the
    * [[tfidfPrefixMassRatio]] statistic (one count aggregate over
    * (sh, __keep)). Linear aggregates + one per-doc window; NO pair join. */
  private def tfidfPrefixParts(df: DataFrame, idCol: String,
                               textCol: String, n: Int, threshold: Double)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1] for the prefix bound")
    // same keys as tfidfCosinePairs: the two paths' weight tables are
    // plan-identical, so whichever runs first warms the other
    val w = persistScoped(s"tfidfW:$idCol:$textCol:$n:$DocFreqCap",
      tfidfWeights(df, idCol, textCol, n))
    val norms = persistScoped(s"tfidfN:$idCol:$textCol:$n:$DocFreqCap",
      w.groupBy(col(idCol))
        .agg(sqrt(sum(col("wgt") * col("wgt"))).as("nrm")))
    val wn = w.join(norms, idCol)
      .select(col(idCol), col("sh"), col("wgt"),
        (col("wgt") / col("nrm")).as("nw"))
    val maxw = wn.groupBy(col("sh")).agg(max(col("nw")).as("mw"))
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(col("mw").desc, col("sh").asc)
    val sufBound = sum(col("nw") * col("mw"))
      .over(byDoc.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val annot = persistScoped(
      s"tfidfA:$idCol:$textCol:$n:$DocFreqCap:$threshold",
      wn.join(maxw, "sh")
        // − 1e-6: covers the round(·,6) threshold slack (5e-7) plus float
        // error — see the docstring; a larger epsilon only adds candidates
        .withColumn("__keep", sufBound >= threshold - 1e-6)
        .select(col(idCol), col("sh"), col("wgt"), col("__keep")))
    (annot, norms)
  }

  /** The exact corpus-skew statistic that [[tfidfCosinePairsAuto]]'s
    * sampled pre-flight estimates (SkewProbe and SkewProbeSpec read it as
    * the reference): the fraction of posting-list PAIR MASS surviving the prefix filter,
    * Σ_t df_pref(t)² / Σ_t df(t)². Pair mass is exactly the number of
    * in-bucket ordered pairs each path's candidate join generates, so
    * the ratio predicts the prefix path's candidate-stage saving
    * directly — and it is computable from two count aggregates over the
    * posting tables (linear work, no pair join, driver state = two
    * doubles). 1.0 when the corpus has no kept terms. */
  def tfidfPrefixMassRatio(df: DataFrame, idCol: String, textCol: String,
                           n: Int = ShingleN): Double = {
    val (annot, _) = tfidfPrefixParts(df, idCol, textCol, n, TfidfThreshold)
    // both pair masses in ONE aggregate: per-term total and
    // prefix-surviving counts, then Σc² / Σcp². Double sums — Σ df² can
    // exceed Long range on an uncapped 100 TB corpus (df up to N ⇒ df² up
    // to 10¹⁸ per term).
    val r = annot.groupBy(col("sh"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("cp"))
      .agg(sum(col("c").cast("double") * col("c")).as("tot"),
        sum(col("cp").cast("double") * col("cp")).as("pre"))
      .head()
    val total = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    if (total == 0.0) 1.0
    else (if (r.isNullAt(1)) 0.0 else r.getDouble(1)) / total
  }

  /** The SAMPLED pre-flight statistic exactly as [[tfidfCosinePairsAuto]]
    * computes it (public so SkewProbeSpec pins the production computation,
    * not a replica): deterministic 1-in-m document sample
    * (`xxhash64(id) mod m = 0`), doc-frequency cap SCALED to the sample
    * (`max(1, cap/m)` — an unscaled cap keeps exactly the hot terms the
    * full statistic drops and flips the decision; see
    * [[tfidfCosinePairsAuto]]), persist-free single-action plan. */
  def tfidfPrefixMassRatioSampled(df: DataFrame, idCol: String,
                                  textCol: String, n: Int = ShingleN)
      : Double = {
    val m = TfidfAutoSampleMod
    val stat = df.filter(pmod(xxhash64(col(idCol)), lit(m.toLong)) === 0)
    val sampleCap = DocFreqCap.map(c => math.max(1, c / m))
    // FUSED chain (r10): the unfused route (tfidfPrefixParts) pays ~11
    // exchanges plus a full window sort because its annotated rows feed
    // three consumers; the pre-flight consumes ONLY the two pair-mass
    // counts, so the plan collapses to 8 smaller exchanges — the r9 floor
    // was stage-launch latency, and stages are what this removes:
    //  - one per-term grouping carries BOTH df and the posting list
    //    (unfused: a df aggregate then a posting join back on sh);
    //  - the per-doc norm is an in-row array aggregate over one grouping
    //    (unfused: a norms groupBy plus the w ⋈ norms join);
    //  - in the (mw desc, sh asc) order every suffix bound is
    //    non-increasing (all contributions positive), so the suffix-bound
    //    window's per-row __keep bit collapses to "the first k sorted
    //    positions" with k from one running-sum pass over each doc's
    //    sorted term array — no window, no sort exchange.
    // Same mathematics as tfidfPrefixMassRatio on the same sample
    // (Σ df_pref² / Σ df² under the sample-scaled cap) up to float
    // summation order — immaterial against the two-orders-of-magnitude
    // regime separation SkewProbeSpec pins.
    val tf = shingleTf(stat, idCol, textCol, n)
    val byTerm = tf.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"),
        collect_list(struct(col(idCol).as("id"), col("tf"))).as("xs"))
      .filter(sampleCap.map(c => col("df") <= c).getOrElse(lit(true)))
    val nDocs = tf.agg(countDistinct(col(idCol)).as("n_docs"))
    // 1-row scalar attach (the tfidfWeights discipline) — idf arithmetic
    // identical to tfidfWeights, including the cross-engine round
    val wRows = byTerm.crossJoin(broadcast(nDocs))
      .select(col("sh"), explode(col("xs")).as("x"),
        round(log((lit(1) + col("n_docs")) / (lit(1) + col("df"))) + 1, 6)
          .as("idf"))
      .select(col("x.id").as("id"), col("sh"),
        (col("x.tf") * col("idf")).as("wgt"))
    val nwRows = wRows.groupBy(col("id"))
      .agg(collect_list(struct(col("sh"), col("wgt"))).as("ys"))
      .select(col("id"), col("ys"),
        sqrt(aggregate(col("ys"), lit(0.0d),
          (a, y) => a + y.getField("wgt") * y.getField("wgt"))).as("nrm"))
      .select(col("id"), explode(col("ys")).as("y"), col("nrm"))
      .select(col("id"), col("y").getField("sh").as("sh"),
        (col("y").getField("wgt") / col("nrm")).as("nw"))
    val maxw = nwRows.groupBy(col("sh")).agg(max(col("nw")).as("mw"))
    val perDoc = nwRows.join(maxw, "sh")
      .select(col("id"),
        struct((-col("mw")).as("negmw"), col("sh"),
          (col("nw") * col("mw")).as("c")).as("z"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("z"))).as("zs"))
      .withColumn("total",
        aggregate(col("zs"), lit(0.0d), (a, z) => a + z.getField("c")))
      // keep(i) ⇔ total − prefix(i−1) ≥ t − ε, the window's bound verbatim
      // (ε covers round(·,6) slack + float error, same as tfidfPrefixParts)
      .withColumn("k",
        aggregate(col("zs"),
          struct(lit(0.0d).as("run"), lit(0).as("k")),
          (a, z) => struct(
            (a.getField("run") + z.getField("c")).as("run"),
            (a.getField("k") + when(
              col("total") - a.getField("run") >= TfidfThreshold - 1e-6, 1)
              .otherwise(0)).as("k")),
          a => a.getField("k")))
    val cp = perDoc
      .select(explode(slice(col("zs"), lit(1), col("k"))).as("z"))
      .select(col("z").getField("sh").as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("cp"))
    // both pair masses in ONE action; the crossJoin is a 1-row × 1-row
    // scalar attach (byTerm's exchange is reused across the two readers)
    val r = cp.agg(sum(col("cp").cast("double") * col("cp")).as("pre"))
      .crossJoin(
        byTerm.agg(sum(col("df").cast("double") * col("df")).as("tot")))
      .head()
    val total = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    if (total == 0.0) 1.0
    else (if (r.isNullAt(0)) 0.0 else r.getDouble(0)) / total
  }

  /** [[tfidfCosinePairsAuto]]'s cutoff: the prefix path runs when
    * it keeps at most this share of the posting pair mass. SkewProbe and
    * SkewProbeSpec check it separates the measured regimes. */
  private[graft] val TfidfAutoMassRatioCutoff = 0.35

  /** The auto path's pre-flight samples 1 document in this many. */
  private[graft] val TfidfAutoSampleMod = 8

  /** Selection rule frozen from the round-8 skew probe (committed
    * artifact BENCH_SKEW_r08.json): run [[tfidfCosinePairsPrefix]] when
    * the prefix keeps at most [[TfidfAutoMassRatioCutoff]] of the posting pair
    * mass, else [[tfidfCosinePairs]]. Measured regimes: the near-uniform
    * bench corpus keeps 0.539 of its pair mass (prefix overhead loses),
    * the Zipf skew corpus keeps 0.003 (prefix wins by the saved candidate
    * mass) — two orders of magnitude apart (BENCH_SKEW_r09.json); the
    * cutoff sits between them with margin on both sides, and BOTH paths
    * emit the identical exact pair set, so a mis-prediction costs only
    * time, never correctness.
    *
    * The pre-flight is a deterministic 1-in-[[TfidfAutoSampleMod]]
    * document sample (`xxhash64(id) mod m = 0` — stable across runs and
    * engines, no RNG): pair mass is a ratio of Σ df² sums dominated by
    * hot terms whose doc frequencies scale uniformly under document
    * sampling, and the measured regimes sit two orders of magnitude apart
    * (0.003 vs 0.539, BENCH_SKEW_r09), far beyond sampling noise —
    * SkewProbeSpec pins that the sampled estimator lands on the exact
    * statistic's side of the cutoff on both corpora. An empty sample
    * (tiny corpus) yields ratio 1.0 ⇒ the plain path, the right call at
    * tiny scale anyway. The sampled statistic persists nothing and shares
    * nothing with the branches. Measured decision cost (cold,
    * min-of-3): a FIXED ~1.5–3 s floor — mostly stage-launch latency for
    * the statistic's ~8-stage chain, data-independent at small corpora
    * (AQE off saves nothing; m=32 halves it) — which reads 2.27× plain at
    * sf0.1 and 1.31× prefix on the 30k-doc skew corpus (BENCH_SKEW_r09),
    * then amortizes to noise exactly where the choice matters: 0.98×
    * plain at the 10× probe scale and 1.08× at 30× (BENCH_SCALE_r09,
    * auto exponent 1.769 tracking the selected plain path's 1.68–1.72).
    * Callers on toy corpora who already know their regime should call the
    * chosen branch directly; the wrapper exists for corpora big enough
    * that a wrong branch costs minutes.
    *
    * EAGER by design: CONSTRUCTING this DataFrame runs Spark jobs (the
    * posting-table build + one mass aggregate) to make the plan-shape
    * decision, and the selection is frozen at construction — callers
    * composing plans without executing them still pay the pre-flight, and
    * a source that mutates between construction and action keeps the
    * originally selected branch (both branches stay exact regardless).
    * Since r10 [[tfidfCosinePairs]] is eager too (its pair-shuffle sizing
    * statistic); the sampled pre-flight here stays uncached so the two
    * eager steps never fight over scoped caches. */
  def tfidfCosinePairsAuto(df: DataFrame, idCol: String, textCol: String,
                           n: Int = ShingleN): DataFrame =
    // sampled statistic with the cap SCALED to the sample: the cap is
    // defined against full-corpus doc counts, and a term with full df D
    // shows sampled df ≈ D/m — an unscaled cap keeps exactly the hot
    // terms the full statistic drops, and those low-weight terms sit in
    // the prunable tail, dragging the sampled ratio across the cutoff
    // (observed on the bench corpus: unscaled-cap sample read below the
    // cutoff vs the exact 0.539 and mis-selected the prefix path)
    if (tfidfPrefixMassRatioSampled(df, idCol, textCol, n) <=
        TfidfAutoMassRatioCutoff)
      tfidfCosinePairsPrefix(df, idCol, textCol, n)
    else tfidfCosinePairs(df, idCol, textCol, n)

  /** [[shingles]] with term frequencies: one row per (id, shingleHash, tf)
    * where tf counts the shingle's occurrences within the document (the
    * distinct-set form drops multiplicity, which TF-IDF needs). Same
    * allocation-free hash pipeline and explode_outer guard. */
  def shingleTf(df: DataFrame, idCol: String, textCol: String,
                n: Int = ShingleN): DataFrame = {
    val t = tokensExpr(textCol)
    val hashArgs = (0 until n).map(j => s"element_at(th, i + $j)")
      .mkString(", ")
    val shingleArr =
      s"""CASE WHEN size(th) >= $n
         |  THEN transform(sequence(1, size(th) - ${n - 1}),
         |                 i -> xxhash64($hashArgs))
         |  ELSE CAST(array() AS array<bigint>) END""".stripMargin
    df.select(col(idCol), expr(s"transform($t, x -> xxhash64(x))").as("th"))
      .select(col(idCol), explode_outer(expr(shingleArr)).as("sh"))
      .filter(col("sh").isNotNull)
      .groupBy(col(idCol), col("sh"))
      .agg(count(lit(1)).as("tf"))
  }

  // --- prefix-filtered exact Jaccard (AllPairs/PPJoin family) -------------

  /** All id pairs (a < b) with word-n-gram Jaccard ≥ threshold — EXACT, via
    * prefix filtering (Bayardo et al. "Scaling Up All Pairs Similarity
    * Search", WWW'07; Xiao et al. PPJoin) instead of the lossy-in-principle
    * doc-frequency cap of [[ngramJaccardPairs]].
    *
    * Theorem (lossless): order each document's shingle set by a global
    * total order (here: ascending doc-frequency, rarest first, ties by
    * shingle hash) and keep only the first `|A| - ⌈t·|A|⌉ + 1` shingles as
    * the *prefix*. If Jaccard(A,B) ≥ t then |A∩B| ≥ t·max(|A|,|B|), so the
    * globally-smallest common shingle must sit inside BOTH prefixes —
    * joining on prefix shingles alone misses no qualifying pair. Candidates
    * additionally pass the size filter t·max(|A|,|B|) ≤ min(|A|,|B|), then
    * are verified with exact intersection counts (candidates-first join, no
    * posting-list blowup).
    *
    * Scale design: rare-first ordering puts low-doc-frequency shingles in
    * the prefixes, so the candidate join's key distribution is the corpus's
    * rare tail — hot stop-phrase shingles land in suffixes and never
    * generate candidates, achieving what the doc-freq cap does WITHOUT
    * dropping information. Per-doc prefix ranking is a window partitioned
    * by document id (bounded by document length — no global sort). The
    * ⌈t·|A|⌉ is computed as `ceil(t·|A| − 1e-9)`: a float error can only
    * LENGTHEN a prefix (more candidates), never lose a pair.
    *
    * Regime guidance: prefix length is ≈ (1−t)·|A|+1, so pruning power
    * collapses as the threshold drops (at t=0.5 half of every document is
    * prefix). Use this operator at high thresholds (t ≳ 0.7), where it is
    * both exact AND cheap; below that prefer [[ngramJaccardPairs]] with a
    * doc-frequency cap or [[minhashDedupPairs]]. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8): DataFrame = {
    val n = ShingleN
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sh = persistScoped(s"prefix:$idCol:$textCol:$n",
      shingles(df, idCol, textCol, n))
    // The per-doc size and doc-frequency aggregates feed BOTH the
    // candidate side (prefix construction) and the verify side (final
    // Jaccard, df ≥ 2 projection) — persisted scoped so each is computed
    // once instead of re-aggregating the shingle set per consumer (the
    // same sharing the v2 pipeline applies to its pair set). Both are
    // threshold-independent, so every threshold over the same shingle
    // configuration shares one copy. Bounded: one row per doc / per
    // distinct shingle.
    val sizes = persistScoped(s"prefix-sizes:$idCol:$textCol:$n",
      shingleSizes(sh, idCol))
    val docFreq = persistScoped(s"prefix-df:$idCol:$textCol:$n",
      sh.groupBy(col("sh")).agg(count(lit(1)).as("sh_df")))
    val byRarity = Window.partitionBy(col(idCol))
      .orderBy(col("sh_df"), col("sh"))
    val prefixLen =
      col("sh_n") - ceil(lit(threshold) * col("sh_n") - lit(1e-9)) + 1
    // Prefix positions rank over the FULL ordered shingle set, but only
    // df ≥ 2 shingles survive into the join sides: a df = 1 shingle occurs
    // in one document and can never produce a candidate match, and rarity
    // ordering puts exactly those first in every prefix — so the filter
    // removes most of the join input while remaining lossless. Persisted:
    // the candidate generation is a self-join over this very DataFrame.
    val prefixes = persistScoped(s"prefix-set:$idCol:$textCol:$n:$threshold",
      sh.join(docFreq, "sh")
        .withColumn("sh_pos", row_number().over(byRarity))
        .join(sizes, idCol)
        .filter(col("sh_pos") <= prefixLen && col("sh_df") >= 2)
        .select(col(idCol), col("sh"), col("sh_pos"), col("sh_n")))
    // Candidate pairs with the PPJoin positional filter: the first shared
    // prefix shingle w (minimum position — both docs sort their shingles
    // by the same global order, so w has the min position on BOTH sides;
    // any common shingle ranking before w would itself be a shared prefix
    // shingle at a smaller position) is the globally smallest common
    // shingle, hence every other common shingle sits strictly after it in
    // both documents: |A∩B| ≤ 1 + min(|A|−i_w, |B|−j_w). Pairs whose bound
    // falls below the overlap requirement α = ⌈t/(1+t)·(|A|+|B|)⌉ (from
    // J ≥ t ⟺ |A∩B| ≥ t/(1+t)·(|A|+|B|)) are pruned before any
    // verification join. The ⌈·⌉ again rounds conservatively DOWN (−1e-9):
    // float error can only weaken the prune, never drop a true pair.
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("n_a") + col("n_b")) - lit(1e-9))
    val cands = prefixes.select(col(idCol).as("id_a"), col("sh"),
        col("sh_pos").as("pos_a"), col("sh_n").as("n_a"))
      .join(prefixes.select(col(idCol).as("id_b"), col("sh"),
        col("sh_pos").as("pos_b"), col("sh_n").as("n_b")), "sh")
      .filter(col("id_a") < col("id_b") &&
        lit(threshold) * greatest(col("n_a"), col("n_b")) <=
          least(col("n_a"), col("n_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("pos_a")).as("iw"), min(col("pos_b")).as("jw"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
      .filter(lit(1) +
        least(col("n_a") - col("iw"), col("n_b") - col("jw")) >= alpha)
      .select(col("id_a"), col("id_b"))
    // Verification also only needs df ≥ 2 shingles: a shingle common to two
    // documents has df ≥ 2 by definition, so intersection counts over the
    // filtered set are identical (set sizes n_a/n_b still come from the
    // full sets). Persisted: both verify sides (id_a and id_b) probe this
    // same filtered shingle set.
    val shCommon = persistScoped(s"prefix-keep:$idCol:$textCol:$n",
      sh.join(docFreq.filter(col("sh_df") >= 2).select(col("sh")),
        Seq("sh"), "left_semi"))
    jaccardAbove(sharedShingles(cands, shCommon, idCol), sizes, idCol,
      threshold)
  }

  // --- MinHash + LSH ------------------------------------------------------

  /** k INDEPENDENT min-wise families: mh_i = min over shingles of
    * xxhash64(i, sh). Deliberately NOT the cheaper Kirsch–Mitzenmacher
    * double-hashing construction (h1 + i·h2): measured against exact
    * Jaccard at sf0.1 the correlated families lose ~2% of true pairs at
    * threshold 0.9, while independent families' per-pair miss probability
    * (~(1-t^r)^b ≈ 4e-8 at k=64/b=16) keeps observed recall at exactly
    * 100% — which the oracle gate requires. Recall is the contract, so the
    * independent families stay; what changed is their evaluation — all k
    * minima are computed in ONE pass per row by the fused
    * [[graft.expressions.MinHashSig]] aggregate (bit-identical to the k
    * separate `min(xxhash64(lit(i), sh))` columns, see its scaladoc), then
    * unpacked to the mh_i schema downstream banding expects. */
  private def signaturesFromShingles(sh: DataFrame, idCol: String)
      : DataFrame = {
    val sig =
      graft.expressions.MinHashSig.minhashSig(col("sh"), MinHashK).as("mh")
    sh.groupBy(col(idCol)).agg(sig)
      .select(col(idCol) +:
        (0 until MinHashK).map(i => col("mh").getItem(i).as(s"mh_$i")): _*)
  }

  /** MinHash-LSH shape of [[minhashDedupPairs]]: signatures of
    * `MinHashK` min-wise hashes, cut into `LshBands` bands of 4 rows. */
  private val MinHashK = 64
  private val LshBands = 16

  /** LSH banding: signature → `LshBands` band-hashes → exploded (band,
    * hash) rows. Docs sharing any band collide. */
  def lshBands(sig: DataFrame, idCol: String): DataFrame = {
    val r = MinHashK / LshBands
    val bandCols = (0 until LshBands).map { b =>
      xxhash64((b * r until (b + 1) * r).map(i => col(s"mh_$i")): _*)
    }
    sig.select(col(idCol),
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  /** Candidate pairs from LSH bucket collisions (distinct, a < b). */
  def lshCandidates(sig: DataFrame, idCol: String): DataFrame = {
    val bandsDf = lshBands(sig, idCol)
    val a = bandsDf.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band"), col("bh"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified: LSH candidates are re-scored
    * with exact n-gram Jaccard, computed candidates-first — the verify join
    * is DRIVEN FROM the candidate set (`cands ⋈ shingles(id_a) ⋈
    * shingles(id_b, sh)`), so intersection work is proportional to
    * |candidates| × shingles-per-doc. The obvious alternative (co-shingle
    * self-join then semi-join against candidates) is a scale trap: Catalyst
    * cannot push the candidate semi-join below the self-join because it
    * references both sides, so the full quadratic co-occurrence pass would
    * run anyway.
    *
    * Cost structure after that fix (stage-profiled at sf0.1): the shingle
    * scan+distinct and the k-hash signature aggregate dominate, and both
    * scale LINEARLY in corpus size — the quadratic terms (banding
    * collisions, candidate verification) are tiny. On a small low-dup
    * corpus the linear signature work makes minhash run close to (not
    * below) the exact postings pass, which is expected: exact n-gram
    * Jaccard's own quadratic term only overtakes minhash's linear overhead
    * as the corpus — and its co-shingle pair volume — grows. Signatures
    * are `MinHashK` = 64 min-wise hashes in `LshBands` = 16 bands. */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8): DataFrame = {
    // one shingle pass feeds signatures, sizes, and candidate verification
    val sh = persistScoped(s"minhash:$idCol:$textCol:$ShingleN",
      shingles(df, idCol, textCol))
    val sig = signaturesFromShingles(sh, idCol)
    val cands = lshCandidates(sig, idCol)
    val sizes = shingleSizes(sh, idCol)
    jaccardAbove(sharedShingles(cands, sh, idCol), sizes, idCol, threshold)
  }

  // --- near-dup clusters → kept set ---------------------------------------

  /** Connected components over near-dup pairs by smallest-label
    * propagation WITH pointer jumping: each iteration every node adopts
    * min(own, neighbors', label-of-label) — the neighbor step spreads the
    * min one hop, the label-of-label step halves remaining path lengths,
    * so convergence is O(log diameter) even for chain-shaped clusters
    * (plain neighbor-min alone needs diameter iterations — a silent
    * wrong-answer trap on long chains under any iteration cap). Each
    * iteration is two joins + a min-aggregate; convergence is verified
    * with a cheap count and failure to converge within 15 iterations
    * raises rather than returning wrong labels. */
  def clusterLabels(pairs: DataFrame,
                    maxDriverEdges: Long = 2000000L): DataFrame = {
    val maxIter = 15
    // undirected edge list, both directions — checkpointed ONCE: every
    // iteration joins against it, and without truncation each round would
    // re-evaluate the full upstream pair-generation plan (shingling/LSH/
    // IVF + rescore — the dominant cost of the whole operator, paid
    // maxIter times). Both directions come from ONE explode pass, not a
    // self-union: the union form evaluated the (expensive) pair plan once
    // per branch inside the materialization job.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)
    // Size-gated driver fast path — the same bounded-by-contract driver
    // math class as broadcast-join decisions and the k-means training
    // sample: near-dup PAIR graphs are orders of magnitude smaller than
    // their corpora (only documents with a near-duplicate appear at all),
    // and below the cap (default 2M directed edges ≈ 32 MB) a single
    // union-find pass replaces ~log(diameter) distributed iterations of
    // 3-4 jobs each. Same result by construction: label = min id of the
    // component, identical to the pointer-jumping fixpoint. Above the cap
    // the distributed loop below is THE path — nothing corpus-sized ever
    // reaches the driver.
    val nDirected = edges.count()
    if (nDirected <= maxDriverEdges) {
      val spark = pairs.sparkSession
      val parent = new java.util.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      val rows = edges.collect()
      rows.foreach { r =>
        val (a, b) = (find(r.get(0)), find(r.get(1)))
        if (a != b) parent.put(a, b)
      }
      // second pass: min member per component, every member labeled with
      // it. "Min" must agree with the distributed path's min()/least(),
      // which orders strings as UTF8String (UTF-8 byte / code-point
      // order) — java.lang.String.compareTo is UTF-16 code-unit order and
      // diverges for chars >= U+E000 vs supplementary characters, which
      // would make the canonical label depend on which side of the
      // maxDriverEdges gate a run lands.
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(
              org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      }
      val minOf = new java.util.HashMap[Any, Any]()
      val members = new java.util.HashSet[Any]()
      rows.foreach { r => members.add(r.get(0)); members.add(r.get(1)) }
      members.forEach { m =>
        val root = find(m)
        val cur = minOf.get(root)
        if (cur == null || lt(m, cur)) minOf.put(root, m)
      }
      val idType = edges.schema("src").dataType
      val out = new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.Row](members.size)
      members.forEach(m =>
        out += org.apache.spark.sql.Row(m, minOf.get(find(m))))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("label", idType))))
    }
    // localCheckpoint (eager) per iteration: an iterative dataflow that
    // feeds each result back into the next plan grows its LOGICAL plan
    // exponentially (labels appears ~4× per step here) — analysis itself
    // OOMs long before data size matters. Checkpointing truncates the
    // plan and lineage each round, the same discipline Spark ML's
    // iterative algorithms use; blocks are (id, label) pairs only.
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor-min: each node adopts min(own label, neighbors' labels).
      // Checkpointed: the pointer-jump below self-joins this frame, which
      // would otherwise evaluate the two-join aggregate twice per round.
      // The previous label rides along as `old` so convergence is a plain
      // filter-count over the checkpointed result — no extra join job.
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dst_label"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nbr_label"))
        .join(labels, Seq("id"))
        .select(col("id"),
          least(col("label"), col("nbr_label")).as("label"),
          col("label").as("old"))
        .localCheckpoint(true)
      // pointer jump: label := label's label (path halving)
      val next = nbrMin.as("a")
        .join(nbrMin.select(col("id").as("label"),
          col("label").as("jump")).as("b"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("jump"), col("label")))
            .as("label"),
          col("old"))
        .localCheckpoint(true)
      val changed = next.filter(col("label") < col("old")).count()
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"clusterLabels did not converge within $maxIter iterations — " +
        s"the diameter of the pair graph exceeds 2^$maxIter")
    labels
  }

  /** The kept set after near-dup clustering: from `df`, drop every doc
    * that is in a near-dup cluster but is not its minimum-id member.
    * Composes any pair generator (`ngramJaccardPairs`, `minhashDedupPairs`,
    * `simhashPairs`, `Similarity.annPairs`) into the operation a corpus
    * build actually needs — the surviving corpus. */
  def survivors(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val drop = clusterLabels(pairs)
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Near-dup survivors keeping the BEST member of each duplicate cluster
    * instead of the smallest id: clusters come from [[clusterLabels]];
    * within each cluster the survivor is the argmax of `better` (ties
    * broken by ascending `idCol` — total and deterministic). Curation
    * pipelines keep the longest / highest-quality near-duplicate, not the
    * earliest-crawled one. Documents in no pair pass through untouched.
    *
    * Scale design: selection runs through the GroupedTopK bounded-heap
    * operator with k=1 per cluster label — shuffle bounded at one row per
    * mapper per cluster, no per-cluster sort; the label join is id-keyed
    * against the (id, label) frame the CC loop already checkpointed. */
  def survivorsKeepBest(df: DataFrame, pairs: DataFrame, idCol: String,
                        better: Column): DataFrame = {
    // __-prefixed internal name: the caller's df may legitimately carry a
    // column named "label" (labeled curation corpora), which would make the
    // join and null-filters below ambiguous
    val labels = clusterLabels(pairs)
      .select(col("id").as(idCol), col("label").as("__cc_label"))
    val labeled = df.join(labels, Seq(idCol), "left")
    val singles = labeled.filter(col("__cc_label").isNull).drop("__cc_label")
    val best = graft.plans.GroupedTopK(
        labeled.filter(col("__cc_label").isNotNull),
        Seq("__cc_label"), Seq(better.desc, col(idCol).asc), 1)
      .drop("__cc_label")
    singles.unionByName(best)
  }

  // --- SimHash ------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. Built as 64 conditional-sum aggregates over exploded tokens —
    * partial aggregation keeps the shuffle at one row per document. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // explode_outer: avoids the inferred-filter re-tokenization (see
    // shingles); the null row from an empty token array is dropped below
    val toks = df.select(col(idCol),
      explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok").isNotNull)
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("h"), i).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v_$i")
    }
    val agg = toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val bits = (0 until 64).map { i =>
      when(col(s"v_$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    agg.select(col(idCol), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ 3, found without
    * a quadratic pass: split the 64 bits into `blocks` 16-bit blocks — any
    * pair within Hamming ≤ blocks-1 shares at least one exact block
    * (pigeonhole) — join per block, then filter on true bit_count.
    *
    * First-match emission: a pair sharing several blocks would surface once
    * per shared block (up to 4×, and exactly 4× for the all-blocks-equal
    * groups perceptual media dedup feeds in); instead of deduplicating with
    * a `distinct()` — a full extra shuffle of the candidate set — each pair
    * is kept only at its SMALLEST matching block (all lower blocks must
    * differ). Every candidate then appears exactly once, by construction. */
  def simhashPairs(sim: DataFrame, idCol: String): DataFrame = {
    val blocks = 4 // 4 x 16-bit blocks cover Hamming distance <= 3
    val blockCols = (0 until blocks).map(bix =>
      shiftrightunsigned(col("simhash"), bix * 16).bitwiseAND(0xFFFFL))
    val exploded = sim.select(col(idCol), col("simhash"),
      posexplode(array(blockCols: _*)).as(Seq("blk", "bv")))
    val a = exploded.select(col("blk"), col("bv"), col(idCol).as("id_a"),
      col("simhash").as("sh_a"))
    val b = exploded.select(col("blk"), col("bv"), col(idCol).as("id_b"),
      col("simhash").as("sh_b"))
    val firstMatch = (0 until blocks).map { j =>
      when(col("blk") > j,
        shiftrightunsigned(col("sh_a"), j * 16).bitwiseAND(0xFFFFL) =!=
          shiftrightunsigned(col("sh_b"), j * 16).bitwiseAND(0xFFFFL))
        .otherwise(lit(true))
    }.reduce(_ && _)
    a.join(b, Seq("blk", "bv"))
      .filter(col("id_a") < col("id_b") && firstMatch)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
  }
}
