package graft.queries

import graft.Tables
import graft.operators.{Dedup, Multimodal, Scale, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over the documents/embeddings tables
  * (BASELINE.json north-star scope): text analysis, dedup family,
  * similarity search, multimodal plumbing. DuckDB oracles recompute the
  * same deterministic formulas; operators whose machinery is not
  * SQL-expressible (minhash/simhash/LSH/mapPartitions) are rows-only here
  * and verified against exact baselines in LlmOpsSpec. */
object OpsLlm extends Suite {

  private val enMarkers = "\\b(the|and|of|to|in|is|that|it|for|was)\\b"

  // -- text statistics ------------------------------------------------------
  private val textStats: Q = (s, dir) => {
    val t = Tables(s, dir)
    val c = col("text")
    t.documents.select(col("doc_id"),
      TA.tokenCount(c).as("n_tok"),
      TA.bpeishTokenCount(c).as("n_bpe"),
      TA.meanWordLen(c).as("mean_wlen"),
      TA.punctRatio(c).as("punct_ratio"),
      TA.upperRatio(c).as("upper_ratio"),
      TA.stopwordRatio(c).as("stop_ratio"),
      length(c).as("len"))
      .orderBy(col("doc_id"))
  }
  private val textStatsSql =
    s"""SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
       |  CAST(len(regexp_extract_all(text,
       |    '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))
       |    AS INT) AS n_bpe,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |    AS mean_wlen,
       |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_ratio,
       |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS upper_ratio,
       |  CAST(len(regexp_extract_all(lower(text), '$enMarkers')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |    AS stop_ratio,
       |  CAST(length(text) AS INT) AS len
       |FROM documents ORDER BY doc_id""".stripMargin

  // -- language ID ----------------------------------------------------------
  private val langId: Q = (s, dir) => {
    val t = Tables(s, dir)
    val c = col("text")
    t.documents.select(col("doc_id"), col("lang"),
      TA.langId(c).as("lang_pred"),
      TA.langScore(c, "en").as("s_en"),
      TA.langScore(c, "de").as("s_de"),
      TA.langScore(c, "fr").as("s_fr"),
      TA.langScore(c, "es").as("s_es"))
      .orderBy(col("doc_id"))
  }
  private def scoreSql(words: Seq[String]): String =
    s"CAST(len(regexp_extract_all(lower(text), " +
      s"'\\b(${words.mkString("|")})\\b')) AS INT)"
  private val langIdSql = {
    val m = TA.langMarkers.toMap
    s"""SELECT doc_id, lang,
       |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS lang_pred,
       |  s_en, s_de, s_fr, s_es
       |FROM (SELECT doc_id, lang, text,
       |        ${scoreSql(m("en"))} AS s_en,
       |        ${scoreSql(m("de"))} AS s_de,
       |        ${scoreSql(m("fr"))} AS s_fr,
       |        ${scoreSql(m("es"))} AS s_es
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // -- quality score --------------------------------------------------------
  private val quality: Q = (s, dir) => {
    val t = Tables(s, dir)
    val c = col("text")
    t.documents.select(col("doc_id"),
      TA.qualityScore(c).as("quality"),
      TA.tokenCount(c).as("n_tok"))
      .orderBy(col("doc_id"))
  }
  private val qualitySql =
    s"""SELECT doc_id,
       |  (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       |  + (CASE WHEN punct_r < 0.2 THEN 1.0 ELSE 0.0 END)
       |  + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
       |  + (CASE WHEN wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |    AS quality,
       |  n_tok
       |FROM (SELECT doc_id,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
       |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS punct_r,
       |  CAST(len(regexp_extract_all(lower(text), '$enMarkers')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |    AS stop_r,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |    / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS wlen
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  // -- end-to-end curation pipeline: the composition a training-data corpus
  //    actually runs — score (language, quality, tokens) → filter → exact
  //    dedup (fingerprint, min-id survivor) → per-tier corpus stats. Every
  //    stage is the already-oracle-verified operator; the pipeline gates the
  //    COMPOSITION (filter pushdown through the dedup semi-join, agg over
  //    the surviving set) against a DuckDB twin built from the same pieces.
  private val pipelineCurate: Q = (s, dir) => {
    val t = Tables(s, dir)
    val c = col("text")
    // The persist is NOT about Dedup.exact (single-pass GroupedTopK k=1
    // since r4): without it, PushDownPredicate inlines the full
    // langId+quality regex battery INTO the filter condition, so every
    // row pays the battery twice (filter, then the projection above it) in
    // one fused stage — measured 2.5s vs 0.25s at sf0.1. The cache
    // materializes the battery once; filter and aggregate read computed
    // columns.
    val scored = Dedup.reuse("curate:scored",
      t.documents.select(col("doc_id"), c,
        TA.langId(c).as("lang_pred"),
        TA.qualityScore(c).as("quality"),
        TA.tokenCount(c).as("n_tok")))
    val kept = scored
      .filter(col("lang_pred") === "en" && col("quality") >= 3.0)
      .withColumn("fp", TA.fingerprint(c))
    val deduped = Dedup.exact(kept, Seq("fp"), "doc_id")
    deduped.groupBy(col("quality"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tok")).cast("long").as("tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("quality"))
  }
  private val pipelineCurateSql = {
    val m = TA.langMarkers.toMap
    s"""WITH scored AS (
       |  SELECT doc_id, text, n_tok,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |         WHEN s_fr >= s_es THEN 'fr'
       |         ELSE 'es' END AS lang_pred,
       |    (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN punct_r < 0.2 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |      AS quality
       |  FROM (SELECT doc_id, text,
       |    ${scoreSql(m("en"))} AS s_en,
       |    ${scoreSql(m("de"))} AS s_de,
       |    ${scoreSql(m("fr"))} AS s_fr,
       |    ${scoreSql(m("es"))} AS s_es,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1) AS punct_r,
       |    CAST(len(regexp_extract_all(lower(text), '$enMarkers')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |      AS stop_r,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS wlen
       |    FROM documents)
       |), kept AS (
       |  SELECT doc_id, n_tok, quality,
       |    md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ',
       |      'g'))) AS fp
       |  FROM scored WHERE lang_pred = 'en' AND quality >= 3.0
       |), surv AS (
       |  SELECT k.doc_id, k.n_tok, k.quality FROM kept k
       |  JOIN (SELECT fp, min(doc_id) AS keep_id FROM kept GROUP BY fp) g
       |    ON k.fp = g.fp AND k.doc_id = g.keep_id
       |)
       |SELECT quality, CAST(count(*) AS BIGINT) AS docs,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM surv GROUP BY quality ORDER BY quality""".stripMargin
  }

  // -- fingerprint dup groups ----------------------------------------------
  private val fingerprintGroups: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.exactGroups(
      t.documents.withColumn("fp", TA.fingerprint(col("text"))),
      "fp", "doc_id")
      .orderBy(col("fp"))
  }
  private val fingerprintGroupsSql =
    """SELECT md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ',
      |    'g'))) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS group_size
      |FROM documents
      |GROUP BY fp
      |ORDER BY fp""".stripMargin

  // -- exact dedup survivors ------------------------------------------------
  private val dedupExact: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.exact(t.documents, Seq("text"), "doc_id")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }
  private val dedupExactSql =
    """SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
      |ORDER BY doc_id""".stripMargin

  // -- corpus health report: the dashboard a curation run emits — per
  //    predicted language: volume (docs, tokens), exact-dup rate from the
  //    fingerprint cardinality, mean quality, and the median token count.
  //    ONE scan, one grouped aggregation (countDistinct adds the standard
  //    two-phase expand) — the signals compose into a single map-side
  //    expression battery, which is the point of the query. --------------
  private val corpusReport: Q = (s, dir) => {
    val t = Tables(s, dir)
    val c = col("text")
    t.documents.select(
        TA.langId(c).as("lang_pred"),
        TA.qualityScore(c).as("quality"),
        TA.tokenCount(c).as("n_tok"),
        TA.fingerprint(c).as("fp"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tok")).cast("long").as("tokens"),
        countDistinct(col("fp")).as("distinct_fps"),
        round(avg(col("quality")), 6).as("mean_quality"),
        round(percentile(col("n_tok"), lit(0.5)), 6).as("p50_tok"))
      .withColumn("dup_rate", round(lit(1.0) -
        col("distinct_fps").cast("double") / col("docs"), 6))
      .orderBy(col("lang_pred"))
  }
  private val corpusReportSql = {
    val m = TA.langMarkers.toMap
    s"""WITH scored AS (
       |  SELECT doc_id, n_tok,
       |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |         WHEN s_fr >= s_es THEN 'fr'
       |         ELSE 'es' END AS lang_pred,
       |    (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN punct_r < 0.2 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |      AS quality,
       |    fp
       |  FROM (SELECT doc_id, text,
       |    ${scoreSql(m("en"))} AS s_en,
       |    ${scoreSql(m("de"))} AS s_de,
       |    ${scoreSql(m("fr"))} AS s_fr,
       |    ${scoreSql(m("es"))} AS s_es,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
       |      AS DOUBLE) / greatest(length(text), 1) AS punct_r,
       |    CAST(len(regexp_extract_all(lower(text), '$enMarkers')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |      AS stop_r,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |      AS wlen,
       |    md5(trim(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ',
       |      'g'))) AS fp
       |  FROM documents))
       |SELECT lang_pred, count(*) AS docs,
       |  CAST(sum(n_tok) AS BIGINT) AS tokens,
       |  count(DISTINCT fp) AS distinct_fps,
       |  round(avg(quality), 6) AS mean_quality,
       |  round(quantile_cont(n_tok, 0.5), 6) AS p50_tok,
       |  round(1.0 - count(DISTINCT fp) * 1.0 / count(*), 6) AS dup_rate
       |FROM scored GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  // -- incremental dedup (the daily-ingest shape): new batch (src10-19,
  //    i.e. source names longer than 4 chars) deduped within itself, then
  //    anti-joined against the fingerprints the seen corpus (src0-9)
  //    already holds. The seen side carries ONLY fingerprints — the 100 TB
  //    state shape. -------------------------------------------------------
  private val dedupIncremental: Q = (s, dir) => {
    val t = Tables(s, dir)
    // the regex fingerprint battery feeds both the batch and the seen
    // sides — persist it once (Dedup.exact is single-pass since r4, but
    // the seen/batch split alone would still evaluate the regex twice)
    val docs = Dedup.reuse("incr:fp",
      t.documents.withColumn("fp", TA.fingerprint(col("text"))))
    val seen = docs.filter(length(col("source")) <= 4)
    val batch = docs.filter(length(col("source")) > 4)
    Dedup.incrementalExact(batch, seen, Seq("fp"), "doc_id")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }
  // -- bloom-prefiltered incremental dedup: identical OUTPUT to
  //    llm_dedup_incremental (the oracle is literally the same SQL) with
  //    the corpus state compressed to a Bloom sketch — false positives
  //    verify exactly, definite-negatives skip the join. Gated on exact
  //    equality with the anti-join semantics, which is the whole claim. ----
  private val dedupBloom: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = Dedup.reuse("incr:fp",
      t.documents.withColumn("fp", TA.fingerprint(col("text"))))
    val seen = docs.filter(length(col("source")) <= 4)
    val batch = docs.filter(length(col("source")) > 4)
    Dedup.bloomIncremental(batch, seen, "fp", "doc_id", fpp = 0.01)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  private val dedupIncrementalSql =
    """WITH d AS (SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ',
      |      'g'))) AS fp
      |  FROM documents),
      |batch AS (SELECT * FROM d WHERE length(source) > 4),
      |seen AS (SELECT DISTINCT fp FROM d WHERE length(source) <= 4),
      |surv AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp)
      |SELECT b.doc_id, b.fp FROM batch b
      |JOIN surv s ON b.fp = s.fp AND b.doc_id = s.doc_id
      |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fp = b.fp)
      |ORDER BY b.doc_id""".stripMargin

  // -- keep-best dedup: one canonical (longest) doc per (lang, source)
  //    stratum via Dedup.exactKeepBest — the GroupedTopK k=1 path, so no
  //    stratum is ever sorted; ties break to the smallest doc_id. ----------
  private val dedupKeepBest: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.exactKeepBest(t.documents, Seq("lang", "source"), "doc_id",
        col("n_chars"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
  private val dedupKeepBestSql =
    """SELECT doc_id, lang, source, n_chars FROM (
      |  SELECT doc_id, lang, source, n_chars,
      |    row_number() OVER (PARTITION BY lang, source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents) WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // -- n-gram Jaccard near-dup pairs (exact computation) --------------------
  private val dedupNgram: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.ngramJaccardPairs(t.documents, "doc_id", "text", threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val dedupNgramSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(c * 1.0 / (x.n + y.n - c), 6) AS jaccard
      |FROM pairs JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      |WHERE c * 1.0 / (x.n + y.n - c) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // -- prefix-filtered EXACT Jaccard pairs (AllPairs family): same oracle
  //    SQL as llm_dedup_ngram (at threshold 0.8 — the high-threshold
  //    regime the algorithm targets, where prefixes are short) because
  //    prefix filtering is lossless — the gate proves the pruned
  //    computation returns the identical pair set. -----------------------
  private val dedupPrefix: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.prefixJaccardPairs(t.documents, "doc_id", "text", threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- winnowing fingerprints (Schleimer et al.): md5-hex gram hashes make
  //    the window-min selection reproducible in DuckDB — full hash-exact
  //    oracle for a classically "engine-internal" fingerprint op. ---------
  private val winnow: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.winnowFingerprints(t.documents, "doc_id", "text", k = 4, w = 5)
      .orderBy(col("doc_id"), col("fp"))
  }
  private val winnowSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, i,
      |        substr(md5(array_to_string(list_slice(tk, i, i + 3), ' ')),
      |               1, 16) AS gh
      |      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS t(i)
      |      WHERE len(tk) >= 4),
      |wm AS (SELECT doc_id, i,
      |        min(gh) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
      |        count(*) OVER (PARTITION BY doc_id) AS ng
      |       FROM g)
      |SELECT DISTINCT doc_id, fp FROM wm
      |WHERE i <= greatest(ng - 4, 1)
      |ORDER BY doc_id, fp""".stripMargin

  // -- winnowing near-dup pairs (the MOSS composition): docs sharing >= 2
  //    selected fingerprints, boilerplate-capped; oracle replicates the
  //    deterministic cap. ------------------------------------------------
  private val winnowPairs: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.winnowPairs(t.documents, "doc_id", "text",
        k = 4, w = 5, maxDocFreq = Some(500))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val winnowPairsSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, i,
      |        substr(md5(array_to_string(list_slice(tk, i, i + 3), ' ')),
      |               1, 16) AS gh
      |      FROM toks, unnest(generate_series(1, len(tk) - 3)) AS t(i)
      |      WHERE len(tk) >= 4),
      |wm AS (SELECT doc_id, i,
      |        min(gh) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
      |        count(*) OVER (PARTITION BY doc_id) AS ng
      |       FROM g),
      |wfp AS (SELECT DISTINCT doc_id, fp FROM wm
      |        WHERE i <= greatest(ng - 4, 1)),
      |keepfp AS (SELECT fp FROM wfp GROUP BY fp
      |           HAVING count(*) >= 2 AND count(*) <= 500)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |FROM wfp a JOIN keepfp USING (fp)
      |     JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  // -- span-level duplicate detection (Lee et al. family): duplicated
  //    8-gram positions merged into maximal per-doc spans; oracle is the
  //    same gaps-and-islands computation in DuckDB. ----------------------
  private val dedupSpans: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.duplicateSpans(t.documents, "doc_id", "text", L = 8)
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_dup_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }
  private val dedupSpansSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, i,
      |        md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS gh
      |      FROM toks, unnest(generate_series(1, len(tk) - 7)) AS t(i)
      |      WHERE len(tk) >= 8),
      |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
      |p AS (SELECT doc_id, i, i + 7 AS e FROM g
      |      WHERE gh IN (SELECT gh FROM dup)),
      |m AS (SELECT doc_id, i, e,
      |        max(e) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM p),
      |f AS (SELECT doc_id, i, e,
      |        CASE WHEN pme IS NULL OR i > pme + 1 THEN 1 ELSE 0 END AS isl
      |      FROM m),
      |s AS (SELECT doc_id, i, e,
      |        sum(isl) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |      FROM f)
      |SELECT doc_id, min(i) AS span_start, max(e) AS span_end,
      |       count(*) AS n_dup_grams
      |FROM s GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin

  // -- span removal: the cleaned corpus after cutting duplicated 8-gram
  //    spans; oracle rebuilds each doc with a NOT EXISTS range check and
  //    ordered string_agg. -----------------------------------------------
  private val despanned: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.removeSpans(t.documents, "doc_id", "text", L = 8)
      .orderBy(col("doc_id"))
  }
  private val despannedSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, i,
      |        md5(array_to_string(list_slice(tk, i, i + 7), ' ')) AS gh
      |      FROM toks, unnest(generate_series(1, len(tk) - 7)) AS t(i)
      |      WHERE len(tk) >= 8),
      |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
      |p AS (SELECT doc_id, i, i + 7 AS e FROM g
      |      WHERE gh IN (SELECT gh FROM dup)),
      |m AS (SELECT doc_id, i, e,
      |        max(e) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM p),
      |f AS (SELECT doc_id, i, e,
      |        CASE WHEN pme IS NULL OR i > pme + 1 THEN 1 ELSE 0 END AS isl
      |      FROM m),
      |s AS (SELECT doc_id, i, e,
      |        sum(isl) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |      FROM f),
      |spans AS (SELECT doc_id, min(i) AS ss, max(e) AS se
      |          FROM s GROUP BY doc_id, grp),
      |w AS (SELECT doc_id, i, tk[i] AS w
      |      FROM toks, unnest(generate_series(1, len(tk))) AS t(i)),
      |keep AS (SELECT doc_id, i, w FROM w
      |         WHERE NOT EXISTS (SELECT 1 FROM spans
      |           WHERE spans.doc_id = w.doc_id
      |             AND w.i BETWEEN spans.ss AND spans.se))
      |SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text
      |FROM keep GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- containment (asymmetric) near-dup pairs: directed |A∩B|/|A| — the
  //    subset/quotation-duplication signal Jaccard dilutes. Exact integer
  //    division keeps the scores engine-portable unrounded. ---------------
  private val dedupContainment: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.containmentPairs(t.documents, "doc_id", "text", threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val dedupContainmentSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, c * 1.0 / x.n AS containment
      |FROM pairs JOIN sz x ON id_a = x.doc_id
      |WHERE c * 1.0 / x.n >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // -- edit-distance verified near-identical pairs: candidates share ≥ 5
  //    informative shingles (the sparsest TRUE pair on this corpus shares
  //    8 — measured, 100% recall with ~4000× candidate pruning), then a
  //    lossless length band, then the levenshtein verify against the
  //    relative bound (0.3 · max length) — the character-level metric
  //    that charges reorderings shingle-set Jaccard forgives. ------------
  private val dedupEdit: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.editDistancePairs(t.documents, "doc_id", "text",
        n = 3, maxRel = 0.3, minCommon = 5)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val dedupEditSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |inf AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 500),
      |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          WHERE a.s IN (SELECT s FROM inf)
      |          GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT id_a, id_b,
      |  CAST(levenshtein(x.text, y.text) AS INT) AS edit_dist
      |FROM cands JOIN documents x ON id_a = x.doc_id
      |           JOIN documents y ON id_b = y.doc_id
      |WHERE abs(length(x.text) - length(y.text))
      |    <= 0.3 * greatest(length(x.text), length(y.text))
      |  AND levenshtein(x.text, y.text)
      |    <= 0.3 * greatest(length(x.text), length(y.text))
      |ORDER BY id_a, id_b""".stripMargin

  // -- per-document n-gram novelty: the fraction of a doc's shingles seen
  //    nowhere else — a corpus-level diversity / boilerplate signal. -------
  private val novelty: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.noveltyScores(t.documents, "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val noveltySql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS novel_shingles,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
      |    / count(*) AS novelty
      |FROM sh JOIN dfq USING (s) GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- TF-IDF sparse cosine pairs: rare-term-weighted lexical similarity.
  //    idf is rounded on both sides (libm-vs-Math ln is 1-ulp apart); the
  //    dot/norm sums are order-sensitive, so the score AND the threshold
  //    test use round(·,6) — the qualifying set itself is engine-portable.
  private val tfidfPairs: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.tfidfCosinePairs(t.documents, "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val tfidfPairsSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |grams AS (SELECT doc_id,
      |            w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |tf AS (SELECT doc_id, s, count(*) AS tf FROM grams GROUP BY 1, 2),
      |dfq AS (SELECT s, count(*) AS df FROM tf GROUP BY s
      |        HAVING count(*) <= 500),
      |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |wt AS (SELECT doc_id, tf.s,
      |         tf * round(ln((1 + n) * 1.0 / (1 + df)) + 1, 6) AS wgt
      |       FROM tf JOIN dfq ON tf.s = dfq.s CROSS JOIN nd),
      |nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nrm FROM wt
      |        GROUP BY doc_id),
      |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |           sum(a.wgt * b.wgt) AS dot
      |         FROM wt a JOIN wt b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT id_a, id_b, round(dot / (x.nrm * y.nrm), 6) AS cosine
      |FROM dots JOIN nrm x ON id_a = x.doc_id JOIN nrm y ON id_b = y.doc_id
      |WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // -- prefix-filtered TF-IDF cosine pairs (Bayardo all-pairs): the
  //    corpus-scale twin of llm_tfidf_pairs — EXACT same output through
  //    weight-bound prefix candidate generation instead of full posting
  //    lists, gated against the SAME DuckDB oracle (result equality). ---
  private val tfidfPairsPrefix: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.tfidfCosinePairsPrefix(t.documents, "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- auto-selected TF-IDF pairs: the frozen mass-ratio rule picks the
  //    plain or prefix path per corpus (BENCH_SKEW_r08 crossover); both
  //    paths are exact, so the SAME oracle gates whichever it picks. ----
  private val tfidfPairsAuto: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.tfidfCosinePairsAuto(t.documents, "doc_id", "text", n = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- MinHash-LSH near-dup pairs. Candidates are re-scored with exact
  //    Jaccard, and at threshold 0.9 with k=64/bands=16 the per-pair miss
  //    probability is ~(1-0.9^4)^16 ≈ 4e-8 — deterministic hashes make the
  //    observed recall exactly 100% here, so the oracle is the exact-Jaccard
  //    SQL at the same threshold. ------------------------------------------
  private val dedupMinhash: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.minhashDedupPairs(t.documents, "doc_id", "text", threshold = 0.9)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- near-dup SURVIVORS: the corpus after minhash clustering — pairs →
  //    connected components (smallest-label propagation) → drop non-min
  //    members. Oracle: the same pair set (exact Jaccard ≥ 0.9, which the
  //    verified minhash path reproduces exactly) clustered by a RECURSIVE
  //    transitive-closure CTE in DuckDB — two entirely different CC
  //    algorithms agreeing on the kept set. --------------------------------
  private val dedupSurvivors: Q = (s, dir) => {
    val t = Tables(s, dir)
    val pairs = Dedup.minhashDedupPairs(t.documents, "doc_id", "text",
      threshold = 0.9)
    Dedup.survivors(t.documents, pairs, "doc_id")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }
  private val dedupSurvivorsSql =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+')
      |           AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |jpairs AS (SELECT id_a, id_b FROM cpairs
      |           JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      |           WHERE c * 1.0 / (x.n + y.n - c) >= 0.9),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
      |          UNION SELECT id_b, id_a FROM jpairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |minlab AS (SELECT src AS id, least(src, min(dst)) AS label
      |           FROM reach GROUP BY src)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM minlab WHERE id <> label)
      |ORDER BY doc_id""".stripMargin

  // -- near-dup survivors, keep-BEST variant: one doc per duplicate
  //    cluster, chosen by longest text (ties → smallest id) through the
  //    GroupedTopK k=1 bounded-heap path. Oracle = the same RECURSIVE
  //    transitive closure as llm_dedup_survivors plus an argmax per
  //    component — two independent algorithms agreeing on both the
  //    clustering AND the selection. --------------------------------------
  private val dedupSurvivorsBest: Q = (s, dir) => {
    val t = Tables(s, dir)
    val pairs = Dedup.ngramJaccardPairs(t.documents, "doc_id", "text",
      threshold = 0.9)
    Dedup.survivorsKeepBest(
        t.documents.select(col("doc_id"), col("n_chars")),
        pairs, "doc_id", col("n_chars"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }
  private val dedupSurvivorsBestSql =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+')
      |           AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |jpairs AS (SELECT id_a, id_b FROM cpairs
      |           JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      |           WHERE c * 1.0 / (x.n + y.n - c) >= 0.9),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
      |          UNION SELECT id_b, id_a FROM jpairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |minlab AS (SELECT src AS id, least(src, min(dst)) AS label
      |           FROM reach GROUP BY src),
      |ranked AS (SELECT m.id, row_number() OVER (PARTITION BY m.label
      |             ORDER BY d.n_chars DESC, m.id) AS rn
      |           FROM minlab m JOIN documents d ON m.id = d.doc_id)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT id FROM minlab)
      |UNION ALL
      |SELECT id AS doc_id FROM ranked WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // -- SimHash near-dup pairs (rows-only; spec-verified) --------------------
  private val dedupSimhash: Q = (s, dir) => {
    val t = Tables(s, dir)
    Dedup.simhashPairs(
        Dedup.simhash(t.documents, "doc_id", "text"), "doc_id")
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- SimHash recall, driver-gated (mirrors llm_embed_ann_recall): the
  //    per-pair bucket output stays rows-only (xxhash64 simhash values are
  //    engine-specific), but this summary is oracle-gated — n_docs
  //    hash-checks against DuckDB, and the query asserts in-band that the
  //    pigeonhole block join has ZERO false positives (every emitted pair
  //    re-checked against the true bit_count Hamming) and recall exactly
  //    1.0 vs the quadratic exact-Hamming baseline. blocks=4 > maxHamming=3
  //    makes full recall a theorem; this gate proves the implementation
  //    delivers it. The quadratic baseline is the validation twin only —
  //    the production path is the block join. ------------------------------
  private val dedupSimhashRecall: Q = (s, dir) => {
    val t = Tables(s, dir)
    val sim = Dedup.reuse("simhash:recall",
      Dedup.simhash(t.documents, "doc_id", "text"))
    val emitted = Dedup.simhashPairs(sim, "doc_id")
    val a = sim.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sim.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
      .select(col("id_a"), col("id_b"))
    val fp = emitted.select(col("id_a"), col("id_b"))
      .join(exact, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_false_pos"))
    val rc = exact
      .join(emitted.select(col("id_a"), col("id_b"), lit(1).as("__found")),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("__n_exact"),
           sum(coalesce(col("__found"), lit(0))).as("__n_found"))
      .select((col("__n_found") === col("__n_exact")).as("recall_full"))
    t.documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(fp).crossJoin(rc)
      .select(col("n_docs"), col("n_false_pos"), col("recall_full"))
  }
  private val dedupSimhashRecallSql =
    """SELECT count(*) AS n_docs, CAST(0 AS BIGINT) AS n_false_pos,
      |  TRUE AS recall_full FROM documents""".stripMargin

  // -- embedding cosine top-k (brute force, exact) --------------------------
  private val embedTopk: Q = (s, dir) => {
    val t = Tables(s, dir)
    val query = t.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))
    Similarity.topKForQuery(t.embeddings.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", query, "q", k = 20)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }
  private val embedTopkSql =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      |           WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(embedding::DOUBLE[], qv)
      |    / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(qv, qv))), 6) AS cosine
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin

  // -- per-label centroid diagnostics: member count, centroid norm, and
  //    own-centroid cosine purity per label. Centroid components are
  //    rounded to 6 decimals on BOTH sides before any downstream
  //    arithmetic, so the member cosines fold identical doubles in
  //    identical sequential order — only the final avg/min round on emit.
  private val embedLabelPurity: Q = (s, dir) => {
    val t = Tables(s, dir)
    Similarity.labelCentroidStats(t.embeddings, "vec_id", "embedding",
        "label")
      .orderBy(col("label"))
  }
  private val embedLabelPuritySql =
    """WITH ex AS (SELECT label, vec_id, embedding AS e,
      |    unnest(generate_series(1, len(embedding))) AS pos
      |  FROM embeddings),
      |cent AS (SELECT label, pos, round(avg(CAST(e[pos] AS DOUBLE)), 6) AS c
      |         FROM ex GROUP BY label, pos),
      |carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent
      |         GROUP BY label),
      |m AS (SELECT e.label, e.vec_id,
      |        list_dot_product(e.embedding::DOUBLE[], c.centroid) AS dot,
      |        sqrt(list_dot_product(e.embedding::DOUBLE[],
      |                              e.embedding::DOUBLE[])) AS nv,
      |        sqrt(list_dot_product(c.centroid, c.centroid)) AS nc
      |      FROM embeddings e JOIN carr c USING (label))
      |SELECT label, count(*) AS n_members,
      |  round(max(nc), 6) AS centroid_norm,
      |  round(avg(dot / (nv * nc)), 6) AS mean_cos,
      |  round(min(dot / (nv * nc)), 6) AS min_cos
      |FROM m GROUP BY label ORDER BY label""".stripMargin

  // -- embedding near-dup pairs: exact quadratic baseline. The synthetic
  //    embeddings top out around cosine 0.51, so 0.45 is the "near" band.
  private val embedExactPairs: Q = (s, dir) => {
    val t = Tables(s, dir)
    Similarity.exactPairs(t.embeddings, "vec_id", "embedding",
        threshold = 0.45)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val embedExactPairsSql =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                             a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                               b.embedding::DOUBLE[]))), 6) AS cosine
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                             a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                               b.embedding::DOUBLE[]))) >= 0.45
      |ORDER BY id_a, id_b""".stripMargin

  // -- semantic dedup (SemDeDup family): cosine pairs -> connected
  //    components -> min-id survivors, gated in exact-pair mode; the
  //    oracle reclusters the SQL-computed pair set with a RECURSIVE
  //    transitive closure — an independent CC algorithm. The IVF-blocked
  //    scale mode is recall-characterized in LlmOpsSpec. ------------------
  private val semanticDedup: Q = (s, dir) => {
    val t = Tables(s, dir)
    Similarity.semanticDedup(t.embeddings, "vec_id", "embedding",
        threshold = 0.45, nlist = 0)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }
  private val semanticDedupSql =
    """WITH RECURSIVE
      |jp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |       WHERE list_dot_product(a.embedding::DOUBLE[],
      |                              b.embedding::DOUBLE[])
      |           / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                                    a.embedding::DOUBLE[]))
      |              * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                                      b.embedding::DOUBLE[])))
      |         >= 0.45),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
      |          UNION SELECT id_b, id_a FROM jp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |minlab AS (SELECT src AS id, least(src, min(dst)) AS label
      |           FROM reach GROUP BY src)
      |SELECT vec_id FROM embeddings
      |WHERE vec_id NOT IN (SELECT id FROM minlab WHERE id <> label)
      |ORDER BY vec_id""".stripMargin

  // -- kNN graph (exact mode, k=5): per-node top-k through GroupedTopK;
  //    oracle is a row_number window over the full ordered-pair cosine
  //    set — a per-partition sort vs bounded heaps agreeing exactly. -----
  private val knnGraph: Q = (s, dir) => {
    val t = Tables(s, dir)
    Similarity.knnGraph(t.embeddings, "vec_id", "embedding", k = 5,
        nlist = 0)
      .select(col("src"), col("dst"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("src"), col("dst"))
  }
  private val knnGraphSql =
    """WITH s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                               a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                                 b.embedding::DOUBLE[]))) AS c
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |r AS (SELECT src, dst, c,
      |        row_number() OVER (PARTITION BY src
      |          ORDER BY c DESC, dst) AS rn
      |      FROM s)
      |SELECT src, dst, round(c, 6) AS cosine FROM r WHERE rn <= 5
      |ORDER BY src, dst""".stripMargin

  // -- kNN density (exact mode): mean cosine to the 5 nearest neighbors,
  //    the embedding-space outlier signal. ------------------------------
  private val knnDensity: Q = (s, dir) => {
    val t = Tables(s, dir)
    Similarity.knnDensity(t.embeddings, "vec_id", "embedding", k = 5)
      .select(col("vec_id"), round(col("knn_density"), 6).as("knn_density"),
        col("n_neighbors"))
      .orderBy(col("vec_id"))
  }
  private val knnDensitySql =
    """WITH s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                               a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                                 b.embedding::DOUBLE[]))) AS c
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |r AS (SELECT src, dst, c,
      |        row_number() OVER (PARTITION BY src
      |          ORDER BY c DESC, dst) AS rn
      |      FROM s)
      |SELECT src AS vec_id, round(avg(c), 6) AS knn_density,
      |       count(*) AS n_neighbors
      |FROM r WHERE rn <= 5 GROUP BY src
      |ORDER BY vec_id""".stripMargin

  // -- semantic dedup, IVF-blocked scale mode (rows-only: cluster blocking
  //    is approximate; recall + false-positive-free contracts are gated in
  //    LlmOpsSpec against the exact mode). This is the variant the bench
  //    measures — the exact mode is the quadratic validation baseline.
  //    nlist is CORPUS-SIZED (cells ~64 vectors) with probes a small
  //    CONSTANT: the round-7 scale probe caught the fixed nlist=32 going
  //    18.6x at 10x data — cells grew linearly with N, the within-cell
  //    verify quadratically. With nlist = N/64 candidate mass is
  //    N^2·p^2/(2·nlist) = 32·p^2·N — LINEAR in N; scaling probes with
  //    nlist instead (an early attempt) re-quadratizes it (each vector
  //    lands in p cells, so candidates grow p^2). At the gate SFs
  //    (N <= 2048) the formula reproduces the frozen 32/3 exactly, so
  //    gated output is byte-identical. ----------------------------------
  private val semanticDedupIvf: Q = (s, dir) => {
    val t = Tables(s, dir)
    val n = t.embeddings.count()
    // clamp at ivfIndex's training-sample cap: train.take(nlist) can seed
    // at most MaxTrainRows centroids, so asking for more would SILENTLY
    // cap the cell count and re-grow cells with N — past 25600*64 ≈ 1.6M
    // vectors a real deployment raises MaxTrainRows and nlist together;
    // the clamp makes the degradation explicit here instead of invisible
    val nlist = math.min(math.max(32, math.ceil(n / 64.0).toInt),
      Similarity.MaxTrainRows)
    Similarity.semanticDedup(t.embeddings, "vec_id", "embedding",
        threshold = 0.45, nlist = nlist)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  // -- IVF ANN top-k. At nprobe = nlist the probe set covers every cluster,
  //    so the result is exactly the brute-force ranking — which makes the
  //    whole IVF machinery (k-means build, assignment, probe, re-score)
  //    verifiable against the same exact-top-k oracle; the approximate
  //    (partial-probe) regime is recall-tested in LlmOpsSpec. --------------
  private val embedIvfTopk: Q = (s, dir) => {
    val t = Tables(s, dir)
    val query = t.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))
    val corpus = t.embeddings.filter(col("vec_id") =!= 0)
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nlist = 16, iters = 2, seed = 42L)
    Similarity.ivfTopKForQuery(idx, "vec_id", "embedding", query, "q",
        k = 20, nprobe = 16)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
  }

  // -- sharded training-data writer: range-partitioned parquet where no
  //    file exceeds the record cap and shard files carry DISJOINT ordered
  //    key ranges (file-level min/max stats prune key-range reads). The
  //    gate re-reads the layout and asserts all three contracts plus a
  //    lossless checksum; the per-file stats collect is bounded by the
  //    shard count (n/cap), not the data. --------------------------------
  private val shardWrite: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("n_chars"))
    val cap = 1000
    val path = java.nio.file.Files.createTempDirectory("graft-shard-gate")
    try {
      Scale.writeSharded(docs, path.toString, col("doc_id"), cap)
      val reread = s.read.parquet(path.toString)
      val orig = docs.agg(count(lit(1)), sum(col("doc_id"))).head
      val back = reread.agg(count(lit(1)), sum(col("doc_id"))).head
      val roundtripOk = orig.getLong(0) == back.getLong(0) &&
        orig.getLong(1) == back.getLong(1)
      val perFile = reread
        .groupBy(input_file_name().as("__f"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("lo"),
          max(col("doc_id")).as("hi"))
        .collect()                       // ≤ n/cap rows by construction
        .sortBy(_.getAs[Long]("lo"))
      val filesOk = perFile.nonEmpty &&
        perFile.forall(_.getAs[Long]("cnt") <= cap)
      val rangesOk = perFile.sliding(2).forall {
        case Array(a, b) => a.getAs[Long]("hi") < b.getAs[Long]("lo")
        case _           => true
      }
      import s.implicits._
      Seq((orig.getLong(0), orig.getLong(1), roundtripOk, filesOk,
        rangesOk))
        .toDF("n_total", "id_sum", "roundtrip_ok", "files_ok", "ranges_ok")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(path.toFile)
    }
  }
  private val shardWriteSql =
    """SELECT count(*) AS n_total, CAST(sum(doc_id) AS BIGINT) AS id_sum,
      |  true AS roundtrip_ok, true AS files_ok, true AS ranges_ok
      |FROM documents""".stripMargin

  // -- product-quantization ANN with exact rescoring, recall-gated: PQ
  //    codes (m=16 subspaces × 16 centroids over the 64-dim embeddings =
  //    16 4-bit codes per vector) score an 8k candidate set via ADC lookup
  //    tables, the candidates rescore EXACTLY against the raw vectors, and
  //    the gate asserts recall vs the brute-force top-k in-query. Measured
  //    (deterministic, seed 42): >=0.9 at sf0.001/sf0.01 and 0.86 at
  //    sf0.1 — the coarser m=8 setting measures 0.62 and a 4k candidate
  //    set 0.74 at sf0.1, which is why the gate pins the recall/size
  //    trade explicitly. -----------------------------------------------
  private val embedPqRecall: Q = (s, dir) => {
    val t = Tables(s, dir)
    val corpus = t.embeddings
    val queries = corpus.filter(col("vec_id") < 5)
    val k = 10
    val idx = Similarity.pqIndex(corpus, "vec_id", "embedding",
      m = 16, ksub = 16, iters = 4, seed = 42L)
    val cand = Similarity.pqTopKBatch(idx, "vec_id",
      queries, "vec_id", "embedding", k = 8 * k)
    val rescored = cand
      .join(corpus.select(col("vec_id"), col("embedding").as("__cv")),
        "vec_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("__qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        graft.expressions.VectorCosine.vecCosine(
          col("__cv").cast("array<double>"),
          col("__qv").cast("array<double>")).as("cosine"))
    val pqTop = graft.plans.GroupedTopK(rescored, Seq("query_id"),
      Seq(col("cosine").desc, col("vec_id").asc), k)
    val exact = Similarity.topKBatch(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k)
    val hits = exact.select(col("query_id"), col("vec_id"))
      .join(pqTop.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"))
      .agg(count(lit(1)).cast("long").as("n_hit"))
    exact.agg(count(lit(1)).cast("long").as("n_exact"))
      .crossJoin(broadcast(hits))
      .select(col("n_exact"),
        (col("n_hit").cast("double") / col("n_exact") >= 0.8)
          .as("recall_ok"))
  }
  private val embedPqRecallSql =
    """SELECT CAST(50 AS BIGINT) AS n_exact, true AS recall_ok""".stripMargin

  // -- IVF index persistence round-trip: writes the index partitioned by
  //    cluster, re-reads with a probe filter, and PROVES partition pruning
  //    from the executed plan (partition filters present + fewer files
  //    listed than the index holds) — the on-disk layout contract that
  //    makes IVF probes at 100 TB touch only probed clusters. The driver-
  //    side collects here are gate assertions over bounded data (ids of
  //    ≤3 probed clusters), not the production read path. ------------------
  private val embedIvfPersist: Q = (s, dir) => {
    val t = Tables(s, dir)
    val corpus = t.embeddings.select(col("vec_id"), col("embedding"))
    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nlist = 16, iters = 2, seed = 42L)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-gate")
    try {
      idx.write(path.toString)
      val reread = s.read.parquet(path.toString)
      // invariant 1: lossless round-trip (row count + id checksum)
      val orig = corpus.agg(count(lit(1)), sum(col("vec_id"))).head
      val full = reread.agg(count(lit(1)), sum(col("vec_id"))).head
      val roundtripOk = orig.getLong(0) == full.getLong(0) &&
        orig.getLong(1) == full.getLong(1)
      // probe the 3 lowest-numbered clusters that actually materialized
      val probes = path.toFile.listFiles()
        .filter(_.getName.startsWith("cluster="))
        .map(_.getName.stripPrefix("cluster=").toInt).sorted.take(3).toSeq
      val filtered = reread
        .filter(col("cluster").isin(probes.map(Int.box): _*))
        .select(col("vec_id"), col("cluster"))
      val gotIds = filtered.collect().map(_.getLong(0)).toSet
      // invariant 2: partition pruning is visible in the EXECUTED plan —
      // partition filters on `cluster` and fewer files than the index has
      val scans = filtered.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution
            .FileSourceScanExec => f }
      def parquetFiles(d: java.io.File): Long =
        if (d.isDirectory) d.listFiles().map(parquetFiles).sum
        else if (d.getName.endsWith(".parquet")) 1L else 0L
      val totalFiles = parquetFiles(path.toFile)
      val prunedOk = scans.nonEmpty &&
        scans.forall(_.partitionFilters.nonEmpty) &&
        scans.map(_.metrics("numFiles").value).sum < totalFiles
      // invariant 3: the pruned read returns exactly the in-memory
      // assignment rows of the probed clusters
      val wantIds = idx.assignments
        .filter(col("cluster").isin(probes.map(Int.box): _*))
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val subsetOk = gotIds == wantIds && gotIds.nonEmpty
      import s.implicits._
      Seq((orig.getLong(0), orig.getLong(1), roundtripOk, prunedOk,
        subsetOk))
        .toDF("n_total", "id_sum", "roundtrip_ok", "pruned_ok",
          "probe_subset_ok")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(path.toFile)
    }
  }
  private val embedIvfPersistSql =
    """SELECT count(*) AS n_total, CAST(sum(vec_id) AS BIGINT) AS id_sum,
      |  true AS roundtrip_ok, true AS pruned_ok, true AS probe_subset_ok
      |FROM embeddings""".stripMargin

  // -- embedding ANN pairs via sign-bit LSH (rows-only; recall in spec) -----
  private val embedAnnPairs: Q = (s, dir) => {
    val t = Tables(s, dir)
    // low-similarity regime → few planes, many tables (recall/cost knob)
    Similarity.annPairs(t.embeddings, "vec_id", "embedding",
        threshold = 0.45, nPlanes = 4, tables = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // -- ANN recall, driver-gated (approx_distinct pattern): the per-pair ANN
  //    output stays rows-only (the bucket structure is engine-specific),
  //    but this summary is exact — n_exact hash-checks against DuckDB's
  //    quadratic baseline, and the query itself asserts zero false
  //    positives (every ANN pair is re-scored exactly, so any non-exact
  //    pair is a bug) and recall ≥ 0.6 (measured 0.79 at sf0.01 / 0.88 at
  //    sf0.1; deterministic given the data). --------------------------------
  private val embedAnnRecall: Q = (s, dir) => {
    val t = Tables(s, dir)
    val exact = Similarity.exactPairs(t.embeddings, "vec_id", "embedding",
        threshold = 0.45)
      .select(col("id_a"), col("id_b"))
    val ann = Similarity.annPairs(t.embeddings, "vec_id", "embedding",
        threshold = 0.45, nPlanes = 4, tables = 8)
      .select(col("id_a"), col("id_b"), lit(1).as("__found"))
    exact.join(ann.select(col("id_a"), col("id_b"), col("__found")),
        Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__found"), lit(0))).as("__n_found"))
      .select(
        col("n_exact"),
        (col("__n_found").cast("double") / col("n_exact") >= 0.6)
          .as("recall_ok"))
      .crossJoin(
        ann.join(exact, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).cast("long").as("n_false_pos")))
      .select(col("n_exact"), col("n_false_pos"), col("recall_ok"))
  }
  private val embedAnnRecallSql =
    """SELECT count(*) AS n_exact, CAST(0 AS BIGINT) AS n_false_pos,
      |  TRUE AS recall_ok
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |    / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                             a.embedding::DOUBLE[]))
      |       * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                               b.embedding::DOUBLE[]))) >= 0.45""".stripMargin

  // -- IVF-cluster near-dup recall, driver-gated (mirrors the LSH gate):
  //    cluster blocking is the semantic-dedup candidate strategy; every
  //    emitted pair is exact-cosine verified (zero false positives by
  //    construction) and recall vs the quadratic baseline is asserted
  //    in-query. ------------------------------------------------------------
  private val embedClusterRecall: Q = (s, dir) => {
    val t = Tables(s, dir)
    val exact = Similarity.exactPairs(t.embeddings, "vec_id", "embedding",
        threshold = 0.45)
      .select(col("id_a"), col("id_b"))
    val idx = Similarity.ivfIndex(t.embeddings, "vec_id", "embedding",
      nlist = 16, iters = 2, seed = 42L)
    val blocked = Similarity.clusterPairs(idx, "vec_id", "embedding",
        threshold = 0.45, probes = 3)
      .select(col("id_a"), col("id_b"), lit(1).as("__found"))
    exact.join(blocked, Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__found"), lit(0))).as("__n_found"))
      .select(
        col("n_exact"),
        (col("__n_found").cast("double") / col("n_exact") >= 0.6)
          .as("recall_ok"))
      .crossJoin(
        blocked.join(exact, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).cast("long").as("n_false_pos")))
      .select(col("n_exact"), col("n_false_pos"), col("recall_ok"))
  }

  // (llm_multimodal_features moved to OpsImage: the decode is REAL now —
  //  JDK ImageIO over gradient PNGs with a hash-exact pixel-stat oracle)

  // -- compression-ratio quality signal: deflate(text)/|text| per doc,
  //    gated with in-query physics assertions the DuckDB oracle states as
  //    constants (DEFLATE itself is not SQL-expressible): every ratio is
  //    positive and bounded, and 4x self-repetition ALWAYS compresses
  //    better than the original — if the kernel miscomputed either side,
  //    a boolean flips and the hash diverges. ------------------------------
  private val compressRatio: Q = (s, dir) => {
    val t = Tables(s, dir)
    def ratio(c: org.apache.spark.sql.Column) =
      graft.expressions.DeflateRatio.deflateRatio(c)
    val scored = t.documents.select(col("doc_id"),
      ratio(col("text")).as("r1"),
      ratio(concat(col("text"), col("text"), col("text"), col("text")))
        .as("r4"))
    scored.agg(
      count(lit(1)).as("n_docs"),
      (sum(when(col("r1") > 0.0 && col("r1") <= 1.5, 1).otherwise(0))
        === count(lit(1))).as("all_bounded"),
      (sum(when(col("r4") < col("r1"), 1).otherwise(0))
        === count(lit(1))).as("repetition_compresses"))
  }
  private val compressRatioSql =
    """SELECT count(*) AS n_docs, true AS all_bounded,
      |  true AS repetition_compresses
      |FROM documents""".stripMargin

  // -- vocabulary top-k: token frequency table, the first step of any
  //    tokenizer/BPE training prep. Top-k fuses to TakeOrderedAndProject
  //    (per-partition heaps, no global sort). ------------------------------
  private val vocabTopk: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.documents
      // explode_outer: a plain explode gets size/isnotnull filters inferred
      // beneath it that re-inline (re-run) the tokenizer; the length guard
      // below already drops the outer-null row
      .select(explode_outer(split(lower(trim(col("text"))), "\\s+"))
        .as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)
  }
  private val vocabTopkSql =
    """SELECT token, count(*) AS freq FROM (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |  FROM documents)
      |WHERE length(token) > 0
      |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin

  // -- vocabulary coverage: the fraction of all token OCCURRENCES a top-K
  //    frequency vocabulary covers (1 - coverage = the OOV rate a
  //    K-entry tokenizer would pay) — the sizing metric run before
  //    committing to a vocab. The term-frequency table is computed once
  //    (scoped reuse: both the top-K sum and the corpus totals read it);
  //    the top-K boundary is total-ordered by (freq desc, token). --------
  private val vocabCoverage: Q = (s, dir) => {
    val t = Tables(s, dir)
    val tf = Dedup.reuse("vocab:tf:documents", t.documents
      .select(explode_outer(split(lower(trim(col("text"))), "\\s+"))
        .as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq")))
    val top = tf.orderBy(col("freq").desc, col("token")).limit(50)
      .agg(sum(col("freq")).as("covered"),
        count(lit(1)).as("vocab_size"))
    val tot = tf.agg(sum(col("freq")).as("total"),
      count(lit(1)).as("distinct_tokens"))
    tot.crossJoin(broadcast(top))
      .select(col("vocab_size"), col("distinct_tokens"), col("total"),
        col("covered"),
        round(col("covered") / col("total"), 6).as("coverage"))
  }
  private val vocabCoverageSql =
    """WITH tf AS (SELECT token, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |      AS token FROM documents)
      |  WHERE length(token) > 0 GROUP BY token),
      |top AS (SELECT CAST(sum(freq) AS BIGINT) AS covered,
      |          count(*) AS vocab_size
      |        FROM (SELECT freq, token FROM tf
      |              ORDER BY freq DESC, token LIMIT 50)),
      |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total,
      |          count(*) AS distinct_tokens FROM tf)
      |SELECT vocab_size, distinct_tokens, total, covered,
      |  round(covered * 1.0 / total, 6) AS coverage
      |FROM tot, top""".stripMargin

  // -- heavy hitters via a Count-Min frequency sketch: the third mergeable
  //    sketch state (HLL = distinct, Bloom = membership, CMS = frequency —
  //    the streaming-vocabulary shape: today's sketch merges with
  //    yesterday's without re-reading either corpus). Gated like the other
  //    approximations: the top-20 exact token counts are the hash-checked
  //    payload and the query asserts the CMS contract in-query — never an
  //    underestimate, over by at most ε·N (deterministic seed). ----------
  private val heavyHitters: Q = (s, dir) => {
    val t = Tables(s, dir)
    val eps = 0.0001
    val toks = Dedup.reuse("hh:toks", t.documents
      .select(explode_outer(split(lower(trim(col("text"))), "\\s+"))
        .as("token"))
      .filter(length(col("token")) > 0))
    val cms = toks.stat.countMinSketch("token", eps = eps,
      confidence = 0.999, seed = 42)
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      cms.writeTo(out)
      out.toByteArray
    }
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(20)
    val est = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.CmsEstimate(
        org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
          s, top("token")), bytes))
    val tot = toks.agg(count(lit(1)).as("n_tok"))
    top.withColumn("est", est)
      .crossJoin(broadcast(tot))
      .select(col("token"), col("freq"),
        (col("est") >= col("freq") &&
          col("est") <= col("freq") + ceil(lit(eps) * col("n_tok")))
          .as("est_ok"))
      .orderBy(col("token"))
  }
  private val heavyHittersSql =
    """SELECT token, freq, true AS est_ok FROM (
      |  SELECT token, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
      |      AS token FROM documents)
      |  WHERE length(token) > 0
      |  GROUP BY token ORDER BY freq DESC, token LIMIT 20)
      |ORDER BY token""".stripMargin

  // -- mergeable distinct-count sketches: per-source DataSketches-HLL
  //    sketches of the content fingerprints, UNIONed into a corpus-wide
  //    distinct estimate — the incremental-dedup STATE shape at 100 TB
  //    (yesterday's sketches merge with today's without rescanning
  //    yesterday). Gated with the op_agg_approx_distinct pattern: the
  //    query itself asserts |estimate − exact|/exact ≤ 5% and emits the
  //    boolean, so the driver's row compare carries the assertion; the
  //    hashed payload is the exact cardinality. ---------------------------
  private val distinctSketch: Q = (s, dir) => {
    val t = Tables(s, dir)
    val fp = t.documents.select(col("source"),
      TA.fingerprint(col("text")).as("fp"))
    val perSource = fp.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(fp)").as("sk"))
    val merged = perSource.agg(count(lit(1)).as("n_sources"),
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = fp.agg(countDistinct(col("fp")).as("exact_distinct"))
    exact.crossJoin(broadcast(merged))
      .select(col("n_sources"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct")) /
          col("exact_distinct") <= 0.05).as("est_ok"))
  }
  private val distinctSketchSql =
    """SELECT count(DISTINCT source) AS n_sources,
      |  count(DISTINCT md5(trim(regexp_replace(lower(text),
      |    '[^\p{L}\p{N}]+', ' ', 'g')))) AS exact_distinct,
      |  true AS est_ok
      |FROM documents""".stripMargin

  // -- token-budget sampling: highest-quality documents first until the
  //    cumulative token budget is spent — the corpus-sizing step of a
  //    training run. The running total uses Scale.prefixSum (bucketed
  //    two-level cumulative sum), NOT a single-partition global window;
  //    the order surrogate packs (quality desc, doc_id) into one unique
  //    numeric key. --------------------------------------------------------
  private val tokenBudget: Q = (s, dir) => {
    val t = Tables(s, dir)
    val scored = t.documents.select(col("doc_id"),
      TA.qualityScore(col("text")).as("quality"),
      TA.tokenCount(col("text")).cast("long").as("n_tok"))
    val orderKey = (lit(4.0) - col("quality")) * lit(1e12) +
      col("doc_id").cast("double")
    graft.operators.Scale.prefixSum(scored, orderKey, col("n_tok"),
        "cum_tok", buckets = 16)
      .filter(col("cum_tok") <= 50000L)
      .select(col("doc_id"), col("quality"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }
  private val tokenBudgetSql =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN punct_r < 0.2 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN stop_r > 0.01 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN wlen BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
       |      AS quality,
       |    CAST(n_tok AS BIGINT) AS n_tok
       |  FROM (SELECT doc_id,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tok,
       |    CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1) AS punct_r,
       |    CAST(len(regexp_extract_all(lower(text), '$enMarkers')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
       |      AS stop_r,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS wlen
       |    FROM documents)
       |), cum AS (
       |  SELECT doc_id, quality, n_tok,
       |    CAST(sum(n_tok) OVER (
       |      ORDER BY (4.0 - quality) * 1e12 + doc_id) AS BIGINT) AS cum_tok
       |  FROM scored)
       |SELECT doc_id, quality, n_tok, cum_tok FROM cum
       |WHERE cum_tok <= 50000 ORDER BY doc_id""".stripMargin

  // -- multimodal frame sampling: the one-to-many binary expansion IS
  //    SQL-expressible (deterministic byte slices), so unlike the stubbed
  //    feature decode it gets a full DuckDB oracle — hex-serialized since
  //    the compare gate handles strings, not blobs. ------------------------
  private val multimodalFrames: Q = (s, dir) => {
    val t = Tables(s, dir)
    val media = Multimodal.syntheticMedia(
      t.documents.select(col("doc_id"), col("text")), "text")
    Multimodal.sampleFrames(media, "doc_id", "content")
      .select(col("doc_id"), col("frame_ix").cast("long").as("frame_ix"),
        hex(col("frame_bytes")).as("frame_hex"))
      .orderBy(col("doc_id"), col("frame_ix"))
  }
  // DuckDB 1.0 cannot slice BLOBs, so the byte slice is taken in hex space:
  // byte [i*8+1, i*8+8] of the blob is hex-char [i*16+1, i*16+16]
  private val multimodalFramesSql =
    """SELECT doc_id, i AS frame_ix,
      |  substring(hex(encode(text)), CAST(i * 16 + 1 AS INT), 16)
      |    AS frame_hex
      |FROM documents, unnest(generate_series(0, 3)) AS t(i)
      |ORDER BY doc_id, frame_ix""".stripMargin

  // -- multimodal container headers: REAL byte-level parsing (PNG IHDR
  //    chunk walk, JPEG SOFn marker scan, RIFF/WAVE fmt/data walk) as
  //    codegen'd expressions over genuinely valid file payloads built with
  //    correct CRCs/structure. The oracle recomputes every field from the
  //    construction arithmetic directly — if the parser misreads a single
  //    byte offset the hash diverges. ---------------------------------------
  private val multimodalHeaders: Q = (s, dir) => {
    val t = Tables(s, dir)
    val id = col("doc_id")
    val rates = array(lit(8000L), lit(11025L), lit(16000L), lit(22050L),
      lit(44100L))
    val params = t.documents.select(id,
      element_at(array(lit("png"), lit("jpeg"), lit("wav")),
        (pmod(id, lit(3)) + 1).cast("int")).as("k"),
      when(pmod(id, lit(3)) === 2,
          element_at(rates, (pmod(id, lit(5)) + 1).cast("int")))
        .otherwise(pmod(id * 37, lit(317)) + 16).as("p1"),
      when(pmod(id, lit(3)) === 2, pmod(id, lit(2)) + 1)
        .otherwise(pmod(id * 53, lit(211)) + 16).as("p2"),
      lit(16L).as("p3"),
      (pmod(id, lit(1500)) + 100).as("p4"))
    val media = params.select(id,
      call_function(graft.expressions.MediaHeaders.buildName,
        col("k"), col("p1"), col("p2"), col("p3"), col("p4")).as("payload"))
    def f(name: String) = call_function(
      graft.expressions.MediaHeaders.fieldName, col("payload"), lit(name))
      .as(name)
    media.select(id,
      call_function(graft.expressions.MediaHeaders.kindName, col("payload"))
        .as("kind"),
      f("width"), f("height"), f("bit_depth"), f("sample_rate_hz"),
      f("channels"), f("bits_per_sample"), f("duration_ms"))
      .orderBy(id)
  }
  // every field recomputed from the construction arithmetic; image rows get
  // NULL audio fields and vice versa, exactly as the parser reports
  private val multimodalHeadersSql =
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
      |    ELSE 'wav' END AS kind,
      |  CAST(CASE WHEN doc_id % 3 < 2 THEN (doc_id * 37) % 317 + 16 END
      |    AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 3 < 2 THEN (doc_id * 53) % 211 + 16 END
      |    AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 < 2 THEN 8 END AS BIGINT) AS bit_depth,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN
      |    list_extract([8000, 11025, 16000, 22050, 44100],
      |      CAST(doc_id % 5 + 1 AS INT)) END AS BIGINT) AS sample_rate_hz,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 2 + 1 END AS BIGINT)
      |    AS channels,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN 16 END AS BIGINT)
      |    AS bits_per_sample,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN
      |    ((doc_id % 1500) + 100) * 1000 // list_extract(
      |      [8000, 11025, 16000, 22050, 44100], CAST(doc_id % 5 + 1 AS INT))
      |    END AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin

  // -- multimodal resize: payload truncation + metadata co-update — the
  //    content/meta contract is SQL-expressible (deterministic byte
  //    truncation, constant target dims), so unlike the stubbed decode it
  //    gets a full hex-space oracle like the frames gate. ------------------
  private val multimodalResize: Q = (s, dir) => {
    val t = Tables(s, dir)
    val media = Multimodal.syntheticMedia(
      t.documents.select(col("doc_id"), col("text")), "text")
    Multimodal.resize(media, "content", "meta", targetW = 16, targetH = 4)
      .select(col("doc_id"), hex(col("content")).as("content_hex"),
        col("meta.kind").as("kind"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.duration_ms").as("duration_ms"))
      .orderBy(col("doc_id"))
  }
  private val multimodalResizeSql =
    """SELECT doc_id,
      |  substring(hex(encode(text)), 1, 128) AS content_hex,
      |  'image' AS kind, CAST(16 AS BIGINT) AS width,
      |  CAST(4 AS BIGINT) AS height,
      |  CAST(length(text) * 20 AS BIGINT) AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin

  def defs: Map[String, Q] = Map(
    "llm_text_stats" -> textStats,
    "llm_lang_id" -> langId,
    "llm_quality" -> quality,
    "llm_fingerprint_groups" -> fingerprintGroups,
    "llm_pipeline_curate" -> pipelineCurate,
    "llm_dedup_exact" -> dedupExact,
    "llm_dedup_incremental" -> dedupIncremental,
    "llm_dedup_bloom" -> dedupBloom,
    "llm_corpus_report" -> corpusReport,
    "llm_vocab_coverage" -> vocabCoverage,
    "llm_distinct_sketch" -> distinctSketch,
    "llm_heavy_hitters" -> heavyHitters,
    "llm_dedup_edit" -> dedupEdit,
    "llm_dedup_keep_best" -> dedupKeepBest,
    "llm_dedup_ngram" -> dedupNgram,
    "llm_dedup_prefix" -> dedupPrefix,
    "llm_winnow" -> winnow,
    "llm_winnow_pairs" -> winnowPairs,
    "llm_dedup_spans" -> dedupSpans,
    "llm_despanned" -> despanned,
    "llm_dedup_containment" -> dedupContainment,
    "llm_novelty" -> novelty,
    "llm_tfidf_pairs" -> tfidfPairs,
    "llm_tfidf_pairs_prefix" -> tfidfPairsPrefix,
    "llm_tfidf_pairs_auto" -> tfidfPairsAuto,
    "llm_dedup_minhash" -> dedupMinhash,
    "llm_dedup_survivors" -> dedupSurvivors,
    "llm_dedup_survivors_best" -> dedupSurvivorsBest,
    "llm_dedup_simhash" -> dedupSimhash,
    "llm_dedup_simhash_recall" -> dedupSimhashRecall,
    "llm_embed_topk" -> embedTopk,
    "llm_embed_ivf_topk" -> embedIvfTopk,
    "llm_embed_ivf_persist" -> embedIvfPersist,
    "llm_embed_pq_recall" -> embedPqRecall,
    "llm_shard_write" -> shardWrite,
    "llm_embed_exact_pairs" -> embedExactPairs,
    "llm_embed_label_purity" -> embedLabelPurity,
    "llm_semantic_dedup" -> semanticDedup,
    "llm_semantic_dedup_ivf" -> semanticDedupIvf,
    "llm_knn_graph" -> knnGraph,
    "llm_knn_density" -> knnDensity,
    "llm_embed_ann_pairs" -> embedAnnPairs,
    "llm_embed_ann_recall" -> embedAnnRecall,
    "llm_embed_cluster_recall" -> embedClusterRecall,
    "llm_multimodal_frames" -> multimodalFrames,
    "llm_multimodal_headers" -> multimodalHeaders,
    "llm_multimodal_resize" -> multimodalResize,
    "llm_vocab_topk" -> vocabTopk,
    "llm_compress_ratio" -> compressRatio,
    "llm_token_budget" -> tokenBudget)

  def oracle: Map[String, String] = Map(
    "llm_text_stats" -> textStatsSql,
    "llm_lang_id" -> langIdSql,
    "llm_quality" -> qualitySql,
    "llm_fingerprint_groups" -> fingerprintGroupsSql,
    "llm_pipeline_curate" -> pipelineCurateSql,
    "llm_dedup_exact" -> dedupExactSql,
    "llm_dedup_incremental" -> dedupIncrementalSql,
    "llm_dedup_bloom" -> dedupIncrementalSql,
    "llm_corpus_report" -> corpusReportSql,
    "llm_vocab_coverage" -> vocabCoverageSql,
    "llm_distinct_sketch" -> distinctSketchSql,
    "llm_heavy_hitters" -> heavyHittersSql,
    "llm_dedup_edit" -> dedupEditSql,
    "llm_dedup_keep_best" -> dedupKeepBestSql,
    "llm_dedup_ngram" -> dedupNgramSql,
    "llm_dedup_prefix" -> dedupNgramSql
      .replace(">= 0.5", ">= 0.8"),
    "llm_winnow" -> winnowSql,
    "llm_winnow_pairs" -> winnowPairsSql,
    "llm_dedup_spans" -> dedupSpansSql,
    "llm_despanned" -> despannedSql,
    "llm_dedup_containment" -> dedupContainmentSql,
    "llm_novelty" -> noveltySql,
    "llm_tfidf_pairs" -> tfidfPairsSql,
    "llm_tfidf_pairs_prefix" -> tfidfPairsSql,
    "llm_tfidf_pairs_auto" -> tfidfPairsSql,
    "llm_dedup_minhash" -> dedupNgramSql
      .replace(">= 0.5", ">= 0.9"),
    "llm_dedup_survivors" -> dedupSurvivorsSql,
    "llm_dedup_survivors_best" -> dedupSurvivorsBestSql,
    "llm_embed_topk" -> embedTopkSql,
    "llm_embed_ivf_topk" -> embedTopkSql,
    "llm_embed_ivf_persist" -> embedIvfPersistSql,
    "llm_embed_pq_recall" -> embedPqRecallSql,
    "llm_shard_write" -> shardWriteSql,
    "llm_embed_exact_pairs" -> embedExactPairsSql,
    "llm_embed_label_purity" -> embedLabelPuritySql,
    "llm_semantic_dedup" -> semanticDedupSql,
    "llm_knn_graph" -> knnGraphSql,
    "llm_knn_density" -> knnDensitySql,
    "llm_embed_ann_recall" -> embedAnnRecallSql,
    "llm_embed_cluster_recall" -> embedAnnRecallSql,
    "llm_dedup_simhash_recall" -> dedupSimhashRecallSql,
    "llm_multimodal_frames" -> multimodalFramesSql,
    "llm_multimodal_headers" -> multimodalHeadersSql,
    "llm_multimodal_resize" -> multimodalResizeSql,
    "llm_vocab_topk" -> vocabTopkSql,
    "llm_compress_ratio" -> compressRatioSql,
    "llm_token_budget" -> tokenBudgetSql)
}
