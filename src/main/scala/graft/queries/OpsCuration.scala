package graft.queries

import graft.Tables
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._

/** Corpus-curation queries: deterministic stratified sampling, PII
  * redaction, repetition statistics, exact percentiles, and int8
  * embedding quantization — the curation passes a training-data pipeline
  * runs between dedup and tokenization. Every query here has an exact
  * DuckDB oracle: determinism (md5 buckets, floor-based rounding, raw
  * IEEE ratios) is part of each operator's design, precisely so results
  * are reproducible across engines and re-runs.
  */
object OpsCuration extends Suite {

  // -- stratified sampling: downsample dominant 'en', keep more of the
  //    tail languages. Buckets are md5-based (engine-portable), thresholds
  //    are exact integer literals on both sides. -------------------------
  private val salt = "graft-sample-v1:"
  private val enRate = 0.25
  private val restRate = 0.6
  private val sampleStratified: Q = (s, dir) => {
    val t = Tables(s, dir)
    val rates = Map("en" -> enRate, "de" -> restRate, "fr" -> restRate,
      "es" -> restRate, "zh" -> restRate)
    Curation.stratifiedSample(t.documents, col("lang"), col("doc_id"),
        rates, salt)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }
  private val sampleStratifiedSql =
    s"""SELECT doc_id, lang, source FROM documents
      |WHERE CAST(('0x' || substr(md5('$salt' || CAST(doc_id AS VARCHAR)),
      |                           1, 8)) AS BIGINT)
      |  < CASE WHEN lang = 'en' THEN ${Curation.thresholdFor(enRate)}
      |         ELSE ${Curation.thresholdFor(restRate)} END
      |ORDER BY doc_id""".stripMargin

  // -- fixed-size stratified sample: exactly 20 docs per language, chosen
  //    by smallest md5 bucket — runs through the GroupedTopK bounded-heap
  //    operator (no per-stratum sort anywhere in the plan). -------------
  private val sampleFixed: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.operators.Curation.stratifiedFixedSample(
        t.documents.select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), k = 20, salt)
      .orderBy(col("doc_id"))
  }
  private val sampleFixedSql =
    s"""SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |    ORDER BY CAST(('0x' || substr(md5('$salt'
      |      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rn
      |  FROM documents) WHERE rn <= 20
      |ORDER BY doc_id""".stripMargin

  // -- domain-mixture balancing: largest total satisfying target language
  //    shares (T = min n_g/p_g), exactly floor(p_g·T) docs per language,
  //    smallest-md5-bucket selection. Oracle recomputes the identical
  //    quota arithmetic (IEEE doubles both sides) and ranking. -----------
  private val mixTargets = Seq(
    "en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.15, "zh" -> 0.05)
  private val balanceMix: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.balanceMix(t.documents.select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), mixTargets.toMap, salt)
      .orderBy(col("doc_id"))
  }
  private val balanceMixSql = {
    val caseShare = mixTargets
      .map { case (g, p) => s"WHEN '$g' THEN CAST($p AS DOUBLE)" }
      .mkString(" ")
    s"""WITH c AS (SELECT lang, count(*) AS n_g,
      |             CASE lang $caseShare END AS p_g
      |           FROM documents GROUP BY lang),
      |cap AS (SELECT min(CAST(n_g AS DOUBLE) / p_g) AS t FROM c),
      |q AS (SELECT lang, CAST(floor(p_g * t) AS BIGINT) AS k_g FROM c, cap),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |        ORDER BY CAST(('0x' || substr(md5('$salt'
      |          || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id)
      |        AS rn
      |      FROM documents)
      |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
      |WHERE rn <= k_g
      |ORDER BY doc_id""".stripMargin
  }

  // -- temperature mixture: group shares ∝ n_g^0.5 under a 300-doc budget
  //    — the multilingual rebalancing recipe; the oracle recomputes the
  //    n^α quota arithmetic and the md5 ranking. -------------------------
  private val temperatureMix: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.temperatureMix(t.documents.select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), alpha = 0.5, totalBudget = 300, salt)
      .orderBy(col("doc_id"))
  }
  private val temperatureMixSql =
    s"""WITH c AS (SELECT lang, count(*) AS n_g,
      |             pow(CAST(count(*) AS DOUBLE), 0.5) AS w_g
      |           FROM documents GROUP BY lang),
      |tot AS (SELECT sum(w_g) AS w_tot FROM c),
      |q AS (SELECT lang, least(n_g,
      |        CAST(floor(300.0 * w_g / w_tot) AS BIGINT)) AS k_g
      |      FROM c, tot),
      |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
      |        ORDER BY CAST(('0x' || substr(md5('$salt'
      |          || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id)
      |        AS rn
      |      FROM documents)
      |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
      |WHERE rn <= k_g
      |ORDER BY doc_id""".stripMargin

  // -- weighted sampling without replacement (Efraimidis–Spirakis A-ES):
  //    key = u^(1/w) on the deterministic md5-uniform, top-100 by key;
  //    weight = n_chars, so longer docs are proportionally likelier. The
  //    key rounds to 12 decimals on BOTH engines before ranking (pow is
  //    only ~1-ulp reproducible across libms; ranking must see identical
  //    keys). The plan is TakeOrderedAndProject (per-partition heaps),
  //    never a global sort. ---------------------------------------------
  private val weightedSample: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.weightedSample(
        t.documents.select(col("doc_id"), col("n_chars")),
        col("doc_id"), col("n_chars"), k = 100, salt)
      .orderBy(col("doc_id"))
  }
  private val weightedSampleSql =
    s"""SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    round(pow((CAST(('0x' || substr(md5('$salt'
      |           || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
      |         / 4294967296.0, 1.0 / n_chars), 12) AS k
      |  FROM documents
      |  ORDER BY k DESC, doc_id LIMIT 100)
      |ORDER BY doc_id""".stripMargin

  // -- BPE merge training (rows-only: the merge sequence is an iterative
  //    argmax-dependent rewrite no single SQL statement can replay;
  //    exactness is gated in BpeSpec against the hand-computed classic
  //    corpus, plus the non-increasing-frequency invariant). The trainer's
  //    distributed contract: corpus collapses to the word-frequency table
  //    in one aggregation; every merge step is one map-side-combined pair
  //    count plus ONE collected argmax row. ------------------------------
  private val bpeMerges: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.bpeTrain(t.documents.select(col("text")), "text",
        numMerges = 30)
      .orderBy(col("step"))
  }

  // -- BPE encoding under a FIXED merge list — hash-exact: with literal
  //    merges the DuckDB oracle replays every merge as a chained replace
  //    over a TWO-space-separated symbol stream. The separator width is
  //    load-bearing: with single-space separators, consecutive pair
  //    occurrences (XYXY runs, e.g. 'dining' under merge (i,n)) share the
  //    guard space, so leftmost replace consumes the next occurrence's
  //    leading guard and only alternate occurrences merge. With 2-space
  //    separators the pattern ' l  r ' consumes ONE space of each guard,
  //    leaving the other for the adjacent occurrence — replace then
  //    implements exactly the BpeMerge kernel's leftmost non-overlapping
  //    scan, and the ' lr ' replacement restores the 2-space invariant
  //    for the next merge in the chain. The Spark side does
  //    vocabulary-scale merge application + one corpus-scale reassembly;
  //    a single misplaced merge diverges the token signature. -----------
  private val bpeFixedMerges = Seq("e" -> "r", "o" -> "r", "i" -> "n",
    "o" -> "w", "s" -> "t", "er" -> "s")
  private val bpeEncode: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.bpeEncode(t.documents.select(col("doc_id"), col("text")),
        "doc_id", "text", bpeFixedMerges)
      .select(col("doc_id"),
        array_join(col("tokens"), " ").as("tokens_sig"),
        col("n_bpe_tokens").cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }
  private val bpeEncodeSql = {
    val chain = bpeFixedMerges.foldLeft("s") { case (acc, (l, r)) =>
      s"replace($acc, ' $l  $r ', ' $l$r ')"
    }
    s"""WITH words AS (
      |  SELECT doc_id, i,
      |    list_extract(string_split_regex(lower(trim(text)), '\\s+'),
      |      CAST(i AS INT)) AS word
      |  FROM documents,
      |    unnest(generate_series(1,
      |      len(string_split_regex(lower(trim(text)), '\\s+')))) AS t(i)),
      |enc AS (
      |  SELECT doc_id, i,
      |    trim(regexp_replace($chain, ' +', ' ', 'g')) AS e FROM (
      |    SELECT doc_id, i,
      |      '  ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || '  '
      |        AS s
      |    FROM words WHERE length(word) > 0))
      |SELECT doc_id, string_agg(e, ' ' ORDER BY i) AS tokens_sig,
      |  CAST(len(string_split(string_agg(e, ' ' ORDER BY i), ' '))
      |    AS BIGINT) AS n_bpe_tokens
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- CCNet-style perplexity buckets: unigram LM trained on the 'en'
  //    reference subset, every doc scored under it (OOV words hit the
  //    smoothed floor), corpus split into head/middle/tail fluency tiers.
  //    Scores round BEFORE ranking (identical keys both engines); the
  //    global rank is the bucketed prefix sum on Spark vs a plain
  //    row_number in DuckDB — two different rank algorithms agreeing
  //    exactly; the tier formula 1 + (rn-1)*3 div n is explicit on both. -
  private val ccnetBuckets: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.perplexityBuckets(
        t.documents.select(col("doc_id"), col("text"), col("lang")),
        "doc_id", "text", trainFilter = col("lang") === "en", buckets = 3)
      .orderBy(col("doc_id"))
  }
  private val ccnetBucketsSql =
    """WITH train AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents WHERE lang = 'en'),
      |cnt AS (SELECT w, count(*) AS c FROM train
      |        WHERE length(w) > 0 GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cnt),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents)
      |  WHERE length(w) > 0 GROUP BY doc_id, w),
      |lp AS (SELECT doc_id,
      |    round(sum(tf * ln((coalesce(c, 0) + 1.0) / (n + 1.0 * v)))
      |          / sum(tf), 6) AS fluency
      |  FROM tf LEFT JOIN cnt USING (w), tot
      |  GROUP BY doc_id),
      |r AS (SELECT doc_id, fluency,
      |    row_number() OVER (ORDER BY fluency DESC, doc_id) AS rn,
      |    count(*) OVER () AS n_docs
      |  FROM lp)
      |SELECT doc_id, fluency,
      |  CAST(1 + (rn - 1) * 3 // n_docs AS BIGINT) AS bucket
      |FROM r ORDER BY doc_id""".stripMargin

  // -- epoch shuffle: deterministic global permutation keyed by seed; the
  //    rank is computed via 256 hash-prefix buckets + offsets (no global
  //    window), the oracle via a plain global row_number — two different
  //    rank algorithms agreeing exactly. --------------------------------
  private val epochShuffle: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.epochShuffle(t.documents.select(col("doc_id")),
        col("doc_id"), "epoch7")
      .orderBy(col("doc_id"))
  }
  private val epochShuffleSql =
    """SELECT doc_id, row_number() OVER (
      |    ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id)
      |  AS shuffle_pos
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // -- deterministic train/val/test split: md5-bucket ranges with integer
  //    cutoffs both engines embed literally. ----------------------------
  private val splitWeights =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  private val datasetSplit: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.datasetSplit(t.documents.select(col("doc_id")), col("doc_id"),
        splitWeights, salt)
      .orderBy(col("doc_id"))
  }
  private val datasetSplitSql = {
    val cuts = Curation.splitCuts(splitWeights)
    val cases = splitWeights.zipWithIndex
      .map { case ((name, _), i) =>
        s"WHEN b >= ${cuts(i)} AND b < ${cuts(i + 1)} THEN '$name'" }
      .mkString(" ")
    s"""SELECT doc_id,
      |  CASE $cases ELSE '${splitWeights.last._1}' END AS split
      |FROM (SELECT doc_id,
      |        CAST(('0x' || substr(md5('$salt' || CAST(doc_id AS VARCHAR)),
      |                             1, 8)) AS BIGINT) AS b
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin
  }

  // -- split leakage audit: near-duplicate CONTENT spanning the
  //    train/eval boundary — the id-keyed split sends equal-or-similar
  //    content with different ids to different splits, silently leaking
  //    training data into eval. Gram-level (token 5-grams shared between
  //    a train doc and any val/test doc), because real leakage is
  //    near-dup, not byte-identical: the exact-fingerprint version of
  //    this audit returns zero rows on this corpus while the gram audit
  //    finds the planted near-dups. (The fix is dedup-BEFORE-split; this
  //    is the audit that catches a pipeline wired the other way.) --------
  private val splitLeakage: Q = (s, dir) => {
    val t = Tables(s, dir)
    val labeled = Curation.datasetSplit(
      t.documents.select(col("doc_id"), col("text")),
      col("doc_id"), splitWeights, salt)
    Curation.decontaminate(
        labeled.filter(col("split") === "train"),
        labeled.filter(col("split") =!= "train"),
        "doc_id", "text", k = 5)
      .orderBy(col("doc_id"))
  }
  private val splitLeakageSql = {
    val cuts = Curation.splitCuts(splitWeights)
    val cases = splitWeights.zipWithIndex
      .map { case ((name, _), i) =>
        s"WHEN b >= ${cuts(i)} AND b < ${cuts(i + 1)} THEN '$name'" }
      .mkString(" ")
    s"""WITH labeled AS (SELECT doc_id, text,
      |    CASE $cases ELSE '${splitWeights.last._1}' END AS split
      |  FROM (SELECT doc_id, text,
      |          CAST(('0x' || substr(md5('$salt'
      |            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
      |        FROM documents)),
      |d AS (SELECT doc_id, split, string_split_regex(trim(text), '\\s+')
      |        AS toks FROM labeled),
      |sh AS (SELECT doc_id, split,
      |    unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS sh
      |  FROM d),
      |ev AS (SELECT DISTINCT sh FROM sh WHERE split <> 'train')
      |SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
      |FROM sh s JOIN ev e ON s.sh = e.sh
      |WHERE s.split = 'train'
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  }

  // -- end-to-end curation v2, composed ENTIRELY from this round's
  //    operators: prefix-filtered near-dup pairs -> connected-components
  //    survivors -> mixture balancing -> train/val/test split -> corpus
  //    stats. One exact oracle replays the whole chain (RECURSIVE closure
  //    for the clustering, quota arithmetic, bucket selection, split
  //    cutoffs) — five composed stages, hash-checked end to end. ---------
  private val pipelineV2: Q = (s, dir) => {
    val t = Tables(s, dir)
    // pass the UNPROJECTED table to the pair generator: shingling reads
    // only (doc_id, text), and handing every caller the same analyzed
    // child plan is what lets persistScoped share one shingle/prefix
    // cache across queries (a projected copy would be a different plan —
    // the cache would rebuild AND evict the shared entry)
    // the pair set feeds BOTH direction branches of the CC edge list —
    // persist so the verify tail of the prefix join runs once, not twice
    val pairs = Dedup.reuse("v2:pairs",
      Dedup.prefixJaccardPairs(t.documents, "doc_id", "text", threshold = 0.8))
    val surv = Dedup.survivors(
      t.documents.select(col("doc_id"), col("lang"), col("n_chars")),
      pairs, "doc_id")
    val bal = Curation.balanceMix(surv, "lang", col("doc_id"),
      mixTargets.toMap, salt)
    val lab = Curation.datasetSplit(bal, col("doc_id"), splitWeights, salt)
    lab.groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"), col("split"))
  }
  private val pipelineV2Sql = {
    val caseShare = mixTargets
      .map { case (g, p) => s"WHEN '$g' THEN CAST($p AS DOUBLE)" }
      .mkString(" ")
    val cuts = Curation.splitCuts(splitWeights)
    val splitCase = splitWeights.zipWithIndex
      .map { case ((name, _), i) =>
        s"WHEN b >= ${cuts(i)} AND b < ${cuts(i + 1)} THEN '$name'" }
      .mkString(" ")
    s"""WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+')
      |           AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
      |        FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |cp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |jp AS (SELECT id_a, id_b FROM cp
      |       JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
      |       WHERE c * 1.0 / (x.n + y.n - c) >= 0.8),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM jp
      |          UNION SELECT id_b, id_a FROM jp),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |minlab AS (SELECT src AS id, least(src, min(dst)) AS label
      |           FROM reach GROUP BY src),
      |surv AS (SELECT doc_id, lang, n_chars FROM documents
      |         WHERE doc_id NOT IN
      |           (SELECT id FROM minlab WHERE id <> label)),
      |c AS (SELECT lang, count(*) AS n_g, CASE lang $caseShare END AS p_g
      |      FROM surv GROUP BY lang),
      |cap AS (SELECT min(CAST(n_g AS DOUBLE) / p_g) AS t FROM c),
      |q AS (SELECT lang, CAST(floor(p_g * t) AS BIGINT) AS k_g FROM c, cap),
      |r AS (SELECT doc_id, lang, n_chars, row_number() OVER
      |        (PARTITION BY lang ORDER BY
      |         CAST(('0x' || substr(md5('$salt' || CAST(doc_id AS VARCHAR)),
      |                              1, 8)) AS BIGINT), doc_id) AS rn
      |      FROM surv),
      |bal AS (SELECT r.doc_id, r.lang, r.n_chars,
      |          CAST(('0x' || substr(md5('$salt'
      |            || CAST(r.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS b
      |        FROM r JOIN q USING (lang) WHERE rn <= k_g),
      |lab AS (SELECT doc_id, lang, n_chars,
      |          CASE $splitCase ELSE '${splitWeights.last._1}' END AS split
      |        FROM bal)
      |SELECT lang, split, count(*) AS docs,
      |       CAST(sum(n_chars) AS BIGINT) AS chars, min(doc_id) AS min_doc
      |FROM lab GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin
  }

  // -- corpus-adaptive unigram LM scoring (perplexity-style quality
  //    signal): avg log p(w) under add-1 smoothing. Transcendental (ln)
  //    and double-summation-order divergence absorbed by round(6). -------
  private val lmScore: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.unigramLogProb(t.documents, "doc_id", "text")
      .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"),
        col("n_tok"))
      .orderBy(col("doc_id"))
  }
  private val lmScoreSql =
    """WITH tk AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |cnt AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM cnt),
      |sc AS (SELECT t.doc_id,
      |         ln((c + 1.0) / (n + 1.0 * v)) AS lp
      |       FROM tk t JOIN cnt USING (w) CROSS JOIN tot)
      |SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
      |       count(*) AS n_tok
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- bigram LM scoring: avg conditional log p(w2|w1), add-1 smoothing;
  //    catches unnatural word ORDER that unigram scoring cannot. --------
  private val lmBigram: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.bigramLogProb(t.documents, "doc_id", "text")
      .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"),
        col("n_bigrams"))
      .orderBy(col("doc_id"))
  }
  private val lmBigramSql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |bi AS (SELECT doc_id, tk[i] AS w, tk[i + 1] AS w2
      |       FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
      |       WHERE len(tk) >= 2),
      |bc AS (SELECT w, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
      |un AS (SELECT unnest(tk) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS cu FROM un WHERE w <> '' GROUP BY w),
      |vv AS (SELECT count(*) AS v FROM uc),
      |sc AS (SELECT b.doc_id, ln((cb + 1.0) / (cu + 1.0 * v)) AS lp
      |       FROM bi b JOIN bc USING (w, w2) JOIN uc USING (w)
      |       CROSS JOIN vv)
      |SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
      |       count(*) AS n_bigrams
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- PII redaction: the corpus is synthetic word-soup with no real PII,
  //    so the query plants deterministic contact strings derived from the
  //    row's own columns, then redacts them — both sides build the same
  //    string, so counts and redacted output compare exactly. ------------
  private val piiRedact: Q = (s, dir) => {
    val t = Tables(s, dir)
    val synth = concat(
      lit("user"), col("doc_id").cast("string"),
      lit("@mail-"), col("source"), lit(".com or +1-555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
      lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
      lit(" :: "), substring(col("text"), 1, 40))
    t.documents.select(
        col("doc_id"),
        Curation.countMatches(synth, Curation.emailPattern)
          .cast("long").as("n_emails"),
        Curation.countMatches(synth, Curation.phonePattern)
          .cast("long").as("n_phones"),
        Curation.countMatches(synth, Curation.ipPattern)
          .cast("long").as("n_ips"),
        Curation.redactPii(synth).as("redacted"))
      .orderBy(col("doc_id"))
  }
  private val piiRedactSql = {
    val synth = "'user' || CAST(doc_id AS VARCHAR) || '@mail-' || source" +
      " || '.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR)," +
      " 4, '0') || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'" +
      " || CAST((doc_id * 7) % 256 AS VARCHAR) || ' :: ' ||" +
      " substr(text, 1, 40)"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d{1,2}-\\d{3}-\\d{3,4}\\b"
    s"""WITH s AS (SELECT doc_id, $synth AS synth FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(synth, '$email')) AS BIGINT)
      |    AS n_emails,
      |  CAST(len(regexp_extract_all(synth, '$phone')) AS BIGINT)
      |    AS n_phones,
      |  CAST(len(regexp_extract_all(synth, '$ip')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(synth,
      |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
      |    '$phone', '<PHONE>', 'g') AS redacted
      |FROM s ORDER BY doc_id""".stripMargin
  }

  // -- repetition stats (Gopher-style quality signals) -------------------
  private val repetition: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.repetitionStats(t.documents, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }
  private val repetitionSql =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents),
      |c AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2),
      |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
      |        count(*) AS n_distinct, max(cnt) AS top_cnt
      |      FROM c GROUP BY 1),
      |t AS (SELECT c.doc_id, min(c.w) AS top_word
      |      FROM c JOIN m ON c.doc_id = m.doc_id AND c.cnt = m.top_cnt
      |      GROUP BY 1)
      |SELECT m.doc_id, m.n_words, m.n_distinct, m.top_cnt, t.top_word,
      |  CAST(m.top_cnt AS DOUBLE) / m.n_words AS top_frac,
      |  CAST(m.n_distinct AS DOUBLE) / m.n_words AS distinct_frac
      |FROM m JOIN t ON m.doc_id = t.doc_id
      |ORDER BY m.doc_id""".stripMargin

  // -- Gopher-rule rejection battery: raw signals + one 0/1 flag per rule
  //    + the conjunction verdict, so removal volume is attributable to
  //    specific rules. All ratios are exact integer-to-double divisions —
  //    no rounding needed on either side. -------------------------------
  private val gopher: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.gopherFilters(t.documents, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }
  private val gopherSql =
    """WITH d AS (SELECT doc_id, text AS t,
      |    string_split_regex(trim(text), '\s+') AS w FROM documents),
      |sig AS (SELECT doc_id,
      |  CAST(len(w) AS INT) AS n_words,
      |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
      |    / greatest(len(w), 1) AS mean_word_len,
      |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
      |    AS DOUBLE) / greatest(len(w), 1) AS alpha_frac,
      |  CAST(len(string_split(t, '#')) - 1
      |     + len(string_split(t, '...')) - 1
      |     + len(string_split(t, '…')) - 1 AS DOUBLE)
      |    / greatest(len(w), 1) AS symbol_ratio,
      |  CAST(len(list_distinct(regexp_extract_all(lower(t),
      |    '\b(the|and|of|to|in|is|that|it|for|was)\b'))) AS INT) AS n_stop
      |FROM d)
      |SELECT *,
      |  g_words * g_mean_len * g_alpha * g_symbol * g_stop AS keep
      |FROM (SELECT *,
      |  CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1 ELSE 0 END AS g_words,
      |  CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END
      |    AS g_mean_len,
      |  CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS g_alpha,
      |  CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS g_symbol,
      |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS g_stop
      |FROM sig)
      |ORDER BY doc_id""".stripMargin

  // -- benchmark decontamination: training docs (source ≠ src0) that leak
  //    5-token shingles from the benchmark corpus (source = src0). k=5 is
  //    calibrated to catch the planted near-duplicates without tripping on
  //    the small synthetic vocabulary's chance 3-gram collisions. ---------
  private val decontaminate: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.operators.Curation.decontaminate(
        t.documents.filter(col("source") =!= "src0"),
        t.documents.filter(col("source") === "src0"),
        "doc_id", "text", k = 5)
      .orderBy(col("doc_id"))
  }
  private val decontaminateSql =
    """WITH d AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+')
      |    AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, greatest(len(toks) - 3, 1)),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS sh
      |  FROM d),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0')
      |SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
      |FROM sh s JOIN bench b ON s.sh = b.sh
      |WHERE s.source <> 'src0'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- exact percentiles of document length per language. Both engines
  //    define the continuous quantile as linear interpolation at
  //    p·(n−1); rounded to 6 to absorb 1-ulp interpolation differences. --
  private val percentiles: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.documents.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.25)), 6).as("p25"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50"),
        round(percentile(col("n_chars"), lit(0.75)), 6).as("p75"))
      .orderBy(col("lang"))
  }
  private val percentilesSql =
    """SELECT lang, count(*) AS n_docs,
      |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
      |  round(quantile_cont(n_chars, 0.50), 6) AS p50,
      |  round(quantile_cont(n_chars, 0.75), 6) AS p75
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // -- approximate percentile, tolerance-gated (same pattern as
  //    op_agg_approx_distinct): the query itself asserts the approximation
  //    is within 5% of exact and emits the boolean, so the driver's row
  //    compare carries the assertion; the hashed payload is the exact
  //    value. ------------------------------------------------------------
  private val percentileApprox: Q = (s, dir) => {
    val t = Tables(s, dir)
    t.documents.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("exact_p50"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000))
          .as("approx_p50"))
      .select(col("lang"), col("n_docs"), col("exact_p50"),
        (abs(col("approx_p50") - col("exact_p50")) <=
          col("exact_p50") * 0.05).as("within_tol"))
      .orderBy(col("lang"))
  }
  private val percentileApproxSql =
    """SELECT lang, count(*) AS n_docs,
      |  round(quantile_cont(n_chars, 0.50), 6) AS exact_p50,
      |  TRUE AS within_tol
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // -- document chunking: 40-token windows, 10-token overlap (stride 30).
  //    Integer chunk-count arithmetic and clamped slices line up exactly
  //    with DuckDB's list slicing. --------------------------------------
  private val chunking: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.operators.Curation.chunkDocuments(
        t.documents, "doc_id", col("text"), chunkTokens = 40, overlap = 10)
      .orderBy(col("doc_id"), col("chunk_ix"))
  }
  private val chunkingSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    1 + (greatest(len(toks) - 40, 0) + 29) // 30 AS nchunks
      |  FROM d),
      |c AS (SELECT doc_id, toks, n, unnest(range(0, nchunks)) AS ci FROM n)
      |SELECT doc_id, ci AS chunk_ix,
      |  least(40, n - ci * 30) AS chunk_tokens,
      |  array_to_string(toks[(ci * 30 + 1):(ci * 30 + 40)], ' ')
      |    AS chunk_text
      |FROM c ORDER BY doc_id, chunk_ix""".stripMargin

  // -- sequence packing: chunks → fixed 2048-token training sequences,
  //    assigned by the sequence containing each chunk's FIRST token. The
  //    cumulative position comes from the distributed prefix sum
  //    (Scale.prefixSum — no single-partition global window), ordered by
  //    the surrogate key doc_id·1024 + chunk_ix ≡ (doc_id, chunk_ix). ---
  private val packSequences: Q = (s, dir) => {
    val t = Tables(s, dir)
    val chunks = graft.operators.Curation.chunkDocuments(
        t.documents, "doc_id", col("text"), chunkTokens = 40, overlap = 10)
      .select(col("doc_id"), col("chunk_ix"), col("chunk_tokens"))
    graft.operators.Scale.prefixSum(chunks,
        col("doc_id") * 1024 + col("chunk_ix"), col("chunk_tokens"), "cum")
      .withColumn("seq_ix", expr("(cum - chunk_tokens) div 2048"))
      .groupBy(col("seq_ix"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(col("chunk_tokens")).as("n_tokens"))
      .orderBy(col("seq_ix"))
  }
  private val packSequencesSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, len(toks) AS n,
      |    1 + (greatest(len(toks) - 40, 0) + 29) // 30 AS nchunks
      |  FROM d),
      |c AS (SELECT doc_id, unnest(range(0, nchunks)) AS ci, n FROM n),
      |k AS (SELECT doc_id, ci, least(40, n - ci * 30) AS ct FROM c),
      |s AS (
      |  SELECT doc_id, ci, ct,
      |    sum(ct) OVER (ORDER BY doc_id, ci ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) - ct AS ex
      |  FROM k)
      |SELECT CAST(ex // 2048 AS BIGINT) AS seq_ix, count(*) AS n_chunks,
      |  CAST(sum(ct) AS BIGINT) AS n_tokens
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // -- BM25 retrieval scores for a fixed query-term set. Ordered by the
  //    ROUNDED score (ln is 1-ulp engine-dependent), ties by doc_id. ----
  private val bm25Terms = Seq("table", "data", "query", "spark")
  private val bm25: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.operators.Curation.bm25Scores(
        t.documents, "doc_id", col("text"), bm25Terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(25)
  }
  private val bm25Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
      |    '\s+')) AS term FROM documents),
      |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avg_len
      |       FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('table', 'data', 'query', 'spark')
      |       GROUP BY 1, 2),
      |fr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id,
      |  round(sum(ln(1.0 + (st.n_docs - fr.df + 0.5) / (fr.df + 0.5))
      |    * (tf.tf * 2.2)
      |    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.len / st.avg_len))), 6)
      |    AS score,
      |  count(*) AS n_terms
      |FROM tf JOIN fr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |GROUP BY tf.doc_id
      |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  // -- int8 quantization profile: per-vector scale, quantized checksum +
  //    range, and max reconstruction error. All raw doubles — every step
  //    (float→double, ×, floor, ÷, −, abs, max) is the same IEEE op on
  //    both engines. -----------------------------------------------------
  private val quantize: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.quantizeInt8(t.embeddings, col("embedding"))
      .select(
        col("vec_id"),
        col("scale"),
        aggregate(col("quantized"), lit(0L), (a, x) => a + x.cast("long"))
          .as("qsum"),
        array_min(col("quantized")).cast("long").as("qmin"),
        array_max(col("quantized")).cast("long").as("qmax"),
        col("max_err"))
      .orderBy(col("vec_id"))
  }
  private val quantizeSql =
    """WITH b AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |    AS dv FROM embeddings),
      |m AS (
      |  SELECT vec_id, dv,
      |    CASE WHEN list_max(list_transform(dv, x -> abs(x))) = 0 THEN 1.0
      |         ELSE 127.0 / list_max(list_transform(dv, x -> abs(x))) END
      |      AS scale
      |  FROM b),
      |q AS (
      |  SELECT vec_id, dv, scale,
      |    list_transform(dv, x -> CAST(floor(x * scale + 0.5) AS INTEGER))
      |      AS qv
      |  FROM m)
      |SELECT vec_id, scale,
      |  CAST(list_sum(qv) AS BIGINT) AS qsum,
      |  CAST(list_min(qv) AS BIGINT) AS qmin,
      |  CAST(list_max(qv) AS BIGINT) AS qmax,
      |  list_max(list_transform(range(1, len(qv) + 1),
      |    i -> abs(qv[i] / scale - dv[i]))) AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  // -- quantized ANN shortlist: top-k by DEQUANTIZED int8 dot — the search
  //    half of the quantization arc. The integer dot (|q| ≤ 127, dim 64 ⇒
  //    |dot| ≤ ~1M, exact everywhere) must be divided by the two vectors'
  //    scales to be comparable ACROSS vectors (raw int dots are inflated
  //    for small-magnitude vectors); the division is one deterministic
  //    IEEE op, so the oracle stays hash-exact. At scale this is the
  //    shortlist pass over 4×-compressed vectors, re-scored exactly only
  //    for survivors. ----------------------------------------------------
  private val quantizedTopk: Q = (s, dir) => {
    val t = Tables(s, dir)
    val quantized = Curation.quantizeInt8(t.embeddings, col("embedding"))
      .select(col("vec_id"), col("quantized"), col("scale"))
    val queryQ = quantized.filter(col("vec_id") === 0)
      .select(col("quantized").as("qq"), col("scale").as("qs"))
    quantized.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(queryQ))
      // native codegen'd integer dot kernel (VectorDotIntSpec proves
      // bit-parity with the composed zip_with/aggregate form)
      .withColumn("qdot",
        graft.expressions.VectorDotInt.vecDotInt(col("quantized"), col("qq")))
      .select(col("vec_id"), col("qdot"),
        (col("qdot") / (col("scale") * col("qs"))).as("approx_dot"))
      .orderBy(col("approx_dot").desc, col("vec_id"))
      .limit(20)
  }
  private val quantizedTopkSql =
    """WITH b AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |    AS dv FROM embeddings),
      |m AS (
      |  SELECT vec_id, dv,
      |    CASE WHEN list_max(list_transform(dv, x -> abs(x))) = 0 THEN 1.0
      |         ELSE 127.0 / list_max(list_transform(dv, x -> abs(x))) END
      |      AS scale
      |  FROM b),
      |q AS (
      |  SELECT vec_id, scale,
      |    list_transform(dv, x -> CAST(floor(x * scale + 0.5) AS INTEGER))
      |      AS qv
      |  FROM m),
      |probe AS (SELECT qv AS qq, scale AS qs FROM q WHERE vec_id = 0)
      |SELECT q.vec_id,
      |  CAST(list_dot_product(q.qv, probe.qq) AS BIGINT) AS qdot,
      |  CAST(list_dot_product(q.qv, probe.qq) AS BIGINT)
      |    / (q.scale * probe.qs) AS approx_dot
      |FROM q, probe WHERE q.vec_id <> 0
      |ORDER BY approx_dot DESC, q.vec_id LIMIT 20""".stripMargin

  // -- hybrid retrieval: BM25 lexical top-50 and embedding-cosine top-50
  //    fused by reciprocal-rank fusion (RRF, k0 = 60) — the standard
  //    lexical+dense retrieval combiner (Cormack et al. 2009). Ranks are
  //    computed WINDOW-FREE: each candidate set is ≤50 rows by
  //    construction, so rank = 1 + |{strictly better rows}| via a
  //    broadcast self-join — no unpartitioned WindowExec anywhere, and at
  //    100 TB the only corpus-scale work is the two top-k passes (partial
  //    BM25 aggregation + TakeOrdered cosine scan); fusion touches 2·k
  //    rows. Candidate selection orders on RAW scores (bit-identical
  //    across engines — the llm_embed_pairs threshold gate proves raw
  //    cosine parity), ranking inside the set on ROUNDED score + id so
  //    both engines rank identical keys. Docs missing from one list get
  //    rank 0 and contribute a single RRF term — embeddings cover only a
  //    prefix of the doc-id space at sf0.1, so the partial-overlap path
  //    is exercised by the gate, not just theory. ------------------------
  private val rrfK0 = 60
  private val hybridK = 50
  private def selfRank(df: org.apache.spark.sql.DataFrame,
                       rankName: String): org.apache.spark.sql.DataFrame = {
    val b = df.select(col("doc_id").as("__bid"), col("__s").as("__bs"))
    df.join(b,
        col("__bs") > col("__s") ||
          (col("__bs") === col("__s") && col("__bid") < col("doc_id")),
        "left")
      .groupBy(col("doc_id"))
      .agg((count(col("__bid")) + 1).cast("long").as(rankName))
  }
  private val hybrid: Q = (s, dir) => {
    val t = Tables(s, dir)
    val lex = Curation.bm25Scores(
        t.documents, "doc_id", col("text"), bm25Terms)
      .select(col("doc_id"), col("score").as("__s"))
      .orderBy(col("__s").desc, col("doc_id")).limit(hybridK)
    val q = t.embeddings.filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))
    val vec = graft.operators.Similarity.topKForQuery(
        t.embeddings.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", q, "q", k = hybridK)
      .select(col("vec_id").as("doc_id"), round(col("cosine"), 6).as("__s"))
    selfRank(lex, "rank_lex")
      .join(selfRank(vec, "rank_vec"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
        coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
        round(
          coalesce(lit(1.0) / (lit(rrfK0) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK0) + col("rank_vec")), lit(0.0)),
          9).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }
  private val hybridSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
      |    '\s+')) AS term FROM documents),
      |dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avg_len
      |       FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('table', 'data', 'query', 'spark')
      |       GROUP BY 1, 2),
      |fr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |lex AS (SELECT tf.doc_id,
      |  round(sum(ln(1.0 + (st.n_docs - fr.df + 0.5) / (fr.df + 0.5))
      |    * (tf.tf * 2.2)
      |    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.len / st.avg_len))), 6)
      |    AS s
      |  FROM tf JOIN fr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY tf.doc_id ORDER BY s DESC, doc_id LIMIT 50),
      |lexr AS (SELECT a.doc_id,
      |    CAST(1 + count(b.doc_id) AS BIGINT) AS rank_lex
      |  FROM lex a LEFT JOIN lex b
      |    ON b.s > a.s OR (b.s = a.s AND b.doc_id < a.doc_id)
      |  GROUP BY a.doc_id),
      |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      |      WHERE vec_id = 0),
      |vec0 AS (SELECT vec_id AS doc_id,
      |    list_dot_product(embedding::DOUBLE[], qv)
      |      / (sqrt(list_dot_product(embedding::DOUBLE[],
      |                               embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(qv, qv))) AS raw
      |  FROM embeddings, q WHERE vec_id <> 0
      |  ORDER BY raw DESC, doc_id LIMIT 50),
      |vec AS (SELECT doc_id, round(raw, 6) AS s FROM vec0),
      |vecr AS (SELECT a.doc_id,
      |    CAST(1 + count(b.doc_id) AS BIGINT) AS rank_vec
      |  FROM vec a LEFT JOIN vec b
      |    ON b.s > a.s OR (b.s = a.s AND b.doc_id < a.doc_id)
      |  GROUP BY a.doc_id),
      |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
      |    CAST(coalesce(l.rank_lex, 0) AS BIGINT) AS rank_lex,
      |    CAST(coalesce(v.rank_vec, 0) AS BIGINT) AS rank_vec,
      |    coalesce(1.0 / (60 + l.rank_lex), 0)
      |      + coalesce(1.0 / (60 + v.rank_vec), 0) AS rrf
      |  FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
      |SELECT doc_id, rank_lex, rank_vec, round(rrf, 9) AS rrf
      |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  def defs: Map[String, Q] = Map(
    "llm_sample_stratified" -> sampleStratified,
    "llm_sample_fixed" -> sampleFixed,
    "llm_balance_mix" -> balanceMix,
    "llm_epoch_shuffle" -> epochShuffle,
    "llm_temperature_mix" -> temperatureMix,
    "llm_ccnet_buckets" -> ccnetBuckets,
    "llm_bpe_merges" -> bpeMerges,
    "llm_bpe_encode" -> bpeEncode,
    "llm_weighted_sample" -> weightedSample,
    "llm_lm_score" -> lmScore,
    "llm_lm_bigram" -> lmBigram,
    "llm_split" -> datasetSplit,
    "llm_split_leakage" -> splitLeakage,
    "llm_pipeline_curate_v2" -> pipelineV2,
    "op_agg_percentile_approx" -> percentileApprox,
    "llm_pii_redact" -> piiRedact,
    "llm_repetition" -> repetition,
    "llm_gopher_filters" -> gopher,
    "llm_decontaminate" -> decontaminate,
    "llm_chunking" -> chunking,
    "llm_pack_sequences" -> packSequences,
    "llm_bm25" -> bm25,
    "llm_hybrid_retrieval" -> hybrid,
    "op_agg_percentile" -> percentiles,
    "llm_embed_quantize" -> quantize,
    "llm_embed_quantized_topk" -> quantizedTopk)

  def oracle: Map[String, String] = Map(
    "llm_sample_stratified" -> sampleStratifiedSql,
    "llm_sample_fixed" -> sampleFixedSql,
    "llm_balance_mix" -> balanceMixSql,
    "llm_epoch_shuffle" -> epochShuffleSql,
    "llm_temperature_mix" -> temperatureMixSql,
    "llm_ccnet_buckets" -> ccnetBucketsSql,
    "llm_bpe_encode" -> bpeEncodeSql,
    "llm_weighted_sample" -> weightedSampleSql,
    "llm_lm_score" -> lmScoreSql,
    "llm_lm_bigram" -> lmBigramSql,
    "llm_split" -> datasetSplitSql,
    "llm_split_leakage" -> splitLeakageSql,
    "llm_pipeline_curate_v2" -> pipelineV2Sql,
    "op_agg_percentile_approx" -> percentileApproxSql,
    "llm_pii_redact" -> piiRedactSql,
    "llm_repetition" -> repetitionSql,
    "llm_gopher_filters" -> gopherSql,
    "llm_decontaminate" -> decontaminateSql,
    "llm_chunking" -> chunkingSql,
    "llm_pack_sequences" -> packSequencesSql,
    "llm_bm25" -> bm25Sql,
    "llm_hybrid_retrieval" -> hybridSql,
    "op_agg_percentile" -> percentilesSql,
    "llm_embed_quantize" -> quantizeSql,
    "llm_embed_quantized_topk" -> quantizedTopkSql)
}
