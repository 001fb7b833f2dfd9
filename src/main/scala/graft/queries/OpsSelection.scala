package graft.queries

import graft.Tables
import graft.operators.{Curation, Dedup, Scale}
import graft.expressions.UnicodeNormalize
import org.apache.spark.sql.functions._

/** Round-6 curation additions: DSIR importance resampling, CCNet-style
  * corpus-wide segment dedup, Unicode normalization, the skew-salted
  * join, corpus snapshot diffing, hard-negative mining (exact + IVF
  * recall gate), the bucketed shuffle-free join gate, URL
  * canonicalization dedup, margin-based bitext mining, Kneser–Ney bigram
  * fluency, and the logistic quality classifier. Every query has an
  * exact DuckDB oracle — determinism (md5 buckets/fingerprints, rounded
  * transcendentals, construction-arithmetic inputs) is part of each
  * operator's design.
  */
object OpsSelection extends Suite {

  private val salt = "graft-dsir-v1:"

  // -- DSIR importance resampling (Xie et al., NeurIPS 2023): hashed
  //    unigram+bigram buckets, add-1-smoothed target/raw log-likelihood
  //    ratio per doc, Gumbel top-k on the deterministic md5-uniform.
  //    Target corpus = the src0 slice (a "high-quality subset" proxy).
  //    round(6) before ranking absorbs ln's ~1-ulp libm divergence and the
  //    cross-engine double-summation order. ------------------------------
  private val buckets = 4096
  private val dsirSelect: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("text"), col("source"))
    Curation.dsirSelect(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", buckets = buckets, k = 100, tau = 1.0, salt)
      .select(col("doc_id"), round(col("logw"), 6).as("logw"),
        col("n_grams"))
      .orderBy(col("doc_id"))
  }
  private val dsirSelectSql =
    s"""WITH tk AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\\s+') AS tk
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(tk) AS gram FROM tk
      |      UNION ALL
      |      SELECT doc_id, tk[i] || ' ' || tk[i + 1]
      |      FROM tk, unnest(generate_series(1, len(tk) - 1)) AS t(i)
      |      WHERE len(tk) >= 2),
      |b AS (SELECT doc_id,
      |        CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % $buckets
      |          AS bucket
      |      FROM g),
      |tgt AS (SELECT doc_id FROM documents WHERE source = 'src0'),
      |craw AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY 1),
      |ctgt AS (SELECT bucket, count(*) AS c_tgt
      |         FROM b JOIN tgt USING (doc_id) GROUP BY 1),
      |nr AS (SELECT sum(c_raw) AS n_raw FROM craw),
      |nt AS (SELECT sum(c_tgt) AS n_tgt FROM ctgt),
      |lr AS (SELECT bucket,
      |         ln((coalesce(c_tgt, 0) + 1.0) / (n_tgt + $buckets.0))
      |         - ln((c_raw + 1.0) / (n_raw + $buckets.0)) AS lr
      |       FROM craw LEFT JOIN ctgt USING (bucket)
      |       CROSS JOIN nr CROSS JOIN nt),
      |wt AS (SELECT b.doc_id, sum(lr) AS logw, count(*) AS n_grams
      |       FROM b JOIN lr USING (bucket) GROUP BY 1),
      |sel AS (SELECT doc_id, logw, n_grams,
      |          round(logw - ln(-ln((CAST(('0x' || substr(md5('$salt'
      |            || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
      |            / 4294967296.0)), 6) AS k
      |        FROM wt ORDER BY k DESC, doc_id LIMIT 100)
      |SELECT doc_id, round(logw, 6) AS logw, n_grams
      |FROM sel ORDER BY doc_id""".stripMargin

  // -- CCNet-style corpus-wide segment dedup: planted 8-word blocks (one
  //    of 4, chosen by doc_id % 4, PREPENDED so they align on the segment
  //    grid) are exact-duplicated across ~125 docs each; the corpus-wide
  //    first occurrence survives, every later copy is cut. Both engines
  //    construct the same input and replay the same min-(doc,seg)
  //    canonicalization. ------------------------------------------------
  private val segWords = 8
  private val blocks = Seq(
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight",
    "north south east west up down left right",
    "red orange yellow green blue indigo violet umber")
  private val dedupLines: Q = (s, dir) => {
    val t = Tables(s, dir)
    val planted = t.documents.select(col("doc_id"),
      concat(element_at(array(blocks.map(lit): _*),
          pmod(col("doc_id"), lit(4)).cast("int") + 1),
        lit(" "), col("text")).as("text"))
    Dedup.segmentDedup(planted, "doc_id", "text", segWords)
      .select(col("doc_id"), col("n_seg"), col("n_dup"), col("dup_ratio"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }
  private val dedupLinesSql = {
    val caseBlock = blocks.zipWithIndex
      .map { case (b, i) => s"WHEN $i THEN '$b'" }.mkString(" ")
    s"""WITH d AS (SELECT doc_id,
      |    (CASE doc_id % 4 $caseBlock END) || ' ' || text AS t
      |  FROM documents),
      |tk AS (SELECT doc_id, string_split_regex(trim(t), '\\s+') AS tk
      |       FROM d),
      |w AS (SELECT doc_id, tk[i] AS w,
      |        CAST(floor((i - 1) / $segWords) AS BIGINT) AS seg, i
      |      FROM tk, unnest(generate_series(1, len(tk))) AS t(i)),
      |s AS (SELECT doc_id, seg,
      |        string_agg(w, ' ' ORDER BY i) AS seg_text
      |      FROM w GROUP BY 1, 2),
      |r AS (SELECT doc_id, seg, seg_text, row_number() OVER
      |        (PARTITION BY md5(seg_text) ORDER BY doc_id, seg) AS rn
      |      FROM s)
      |SELECT doc_id, count(*) AS n_seg,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 6) AS dup_ratio,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN seg_text END,
      |    ' ' ORDER BY seg), '') AS clean_text
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- exact-substring dedup at ARBITRARY alignment (Lee et al. ACL'22
  //    suffix formulation, keep-first): docs with doc_id % 25 == 7 get a
  //    49-token slice of the donor (doc_id - 7, itself never planted)
  //    spliced in after their first (doc_id % 13 + 1) tokens — an
  //    UNALIGNED offset the segment grid of llm_dedup_lines would miss.
  //    Both engines build the same planted corpus, key every position's
  //    20-token window by md5 of its exact text, keep the min-(doc,
  //    offset) occurrence, and merge later copies into maximal spans. ----
  private val subL = 20
  private val dedupSubstring: Q = (s, dir) => {
    val t = Tables(s, dir)
    val base = t.documents.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("tk"))
    val donor = base.select(col("doc_id").as("dn_id"), col("tk").as("dn_tk"))
    val planted = base
      .join(donor, col("dn_id") === col("doc_id") - 7, "left")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(25)) === 7 && col("dn_id").isNotNull,
          concat_ws(" ",
            array_join(expr("slice(tk, 1, CAST(doc_id % 13 + 1 AS INT))"),
              " "),
            array_join(expr("slice(dn_tk, 11, 49)"), " "),
            array_join(expr("slice(tk, CAST(doc_id % 13 + 2 AS INT)," +
              " size(tk))"), " ")))
          .otherwise(array_join(col("tk"), " ")).as("text"))
    Dedup.substringDedup(planted, "doc_id", "text", L = subL)
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("n_dup_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }
  private val dedupSubstringSql =
    s"""WITH d0 AS (SELECT doc_id,
      |    string_split_regex(trim(text), '\\s+') AS tk FROM documents),
      |pl AS (SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 25 = 7 AND dn.doc_id IS NOT NULL THEN
      |      array_to_string(d.tk[1:(d.doc_id % 13 + 1)], ' ') || ' ' ||
      |      array_to_string(dn.tk[11:59], ' ') || ' ' ||
      |      array_to_string(d.tk[(d.doc_id % 13 + 2):len(d.tk)], ' ')
      |    ELSE array_to_string(d.tk, ' ') END AS t
      |  FROM d0 d LEFT JOIN d0 dn ON dn.doc_id = d.doc_id - 7),
      |tk AS (SELECT doc_id,
      |    string_split_regex(lower(trim(t)), '\\s+') AS tk FROM pl),
      |w AS (SELECT doc_id, i,
      |    md5(array_to_string(tk[i:i + ${subL - 1}], ' ')) AS fp
      |  FROM tk, unnest(generate_series(1, len(tk) - ${subL - 1}))
      |    AS t(i)
      |  WHERE len(tk) >= $subL),
      |a AS (SELECT fp, count(*) AS occ, min(doc_id) AS cd
      |      FROM w GROUP BY fp),
      |ci AS (SELECT w.fp, min(w.i) AS ci FROM w
      |       JOIN a ON w.fp = a.fp AND w.doc_id = a.cd GROUP BY w.fp),
      |dup AS (SELECT w.doc_id, w.i, w.i + ${subL - 1} AS e
      |        FROM w JOIN a USING (fp) JOIN ci USING (fp)
      |        WHERE occ >= 2 AND NOT (w.doc_id = a.cd AND w.i = ci.ci)),
      |m AS (SELECT doc_id, i, e,
      |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           IS NULL
      |         OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |    THEN 1 ELSE 0 END AS isl
      |  FROM dup),
      |g AS (SELECT doc_id, i, e,
      |    sum(isl) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM m)
      |SELECT doc_id, min(i) AS span_start, max(e) AS span_end,
      |  count(*) AS n_dup_windows
      |FROM g GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin

  // -- Unicode normalization: NFC composes planted decomposed accents
  //    (verified against DuckDB's nfc_normalize), NFKC folds fullwidth /
  //    double-struck / ligature forms to their compatibility images
  //    (construction arithmetic: inputs are built from known codepoints,
  //    so the oracle states the known image — same method as the media
  //    header oracles), and cleanText strips planted control characters.
  private val normalize: Q = (s, dir) => {
    val t = Tables(s, dir)
    // "cafe" + combining acute + "A" + combining grave: NFC composes both
    val dec = concat(substring(col("text"), 1, 30),
      lit(" cafe\u0301 A\u0300"))
    // fullwidth A, fullwidth !, double-struck C, ff ligature, fullwidth
    // digit of doc_id%10 — NFKC image is "A!Cff<digit>"
    val fwDigits = array((0 to 9).map(d =>
      lit(new String(Character.toChars(0xFF10 + d)))): _*)
    val fw = concat(lit("\uFF21\uFF01\u2102\uFB00"),
      element_at(fwDigits, pmod(col("doc_id"), lit(10)).cast("int") + 1))
    val messy = concat(lit("\u0007\t "), substring(col("text"), 1, 20),
      lit("  x\u001b\ty "))
    t.documents.select(
        col("doc_id"),
        length(dec).as("raw_len"),
        length(UnicodeNormalize.nfc(dec)).as("nfc_len"),
        UnicodeNormalize.nfc(dec).as("nfc_text"),
        UnicodeNormalize.nfkc(fw).as("nfkc_text"),
        Curation.cleanText(messy).as("clean_text"))
      .orderBy(col("doc_id"))
  }
  private val normalizeSql =
    """WITH s AS (SELECT doc_id,
      |    substr(text, 1, 30) || ' cafe' || chr(769) || ' A' || chr(768)
      |      AS dec,
      |    chr(7) || chr(9) || ' ' || substr(text, 1, 20) || '  x'
      |      || chr(27) || chr(9) || 'y ' AS messy
      |  FROM documents)
      |SELECT doc_id,
      |  length(dec) AS raw_len,
      |  length(nfc_normalize(dec)) AS nfc_len,
      |  nfc_normalize(dec) AS nfc_text,
      |  'A!Cff' || CAST(doc_id % 10 AS VARCHAR) AS nfkc_text,
      |  trim(regexp_replace(regexp_replace(messy,
      |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
      |FROM s ORDER BY doc_id""".stripMargin

  // -- skew-salted join, gated for RESULT EQUALITY against the plain join
  //    (the salt must never change semantics): lineitem⋈part on partkey
  //    through Scale.saltedJoin with 8 salts and a shuffle-hash hint (the
  //    salted path exists for keys too hot to broadcast around), then a
  //    brand-level rollup. round(2) absorbs double-summation order. ------
  private val saltedJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    Scale.saltedJoin(t.lineitem, t.part.hint("shuffle_hash"),
        "l_partkey", "p_partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("p_brand"))
  }
  private val saltedJoinSql =
    """SELECT p_brand, count(*) AS n,
      |  round(sum(l_quantity), 2) AS qty,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // -- corpus snapshot diff: the old snapshot is derived deterministically
  //    from the new one (docs %7=0 absent → added; %5=0 truncated →
  //    changed; planted +100000 ids → removed), so both engines replay the
  //    identical fingerprint diff. ---------------------------------------
  private val snapshotDiff: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("text"))
    val newSnap = docs.withColumn("fp", md5(col("text")))
    val oldBase = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0,
          substring(col("text"), 1, 50)).otherwise(col("text")))
    val oldExtra = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
    val oldSnap = oldBase.unionByName(oldExtra)
      .withColumn("fp", md5(col("text")))
    Curation.snapshotDiff(oldSnap, newSnap, "doc_id", "fp")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("status"))
  }
  private val snapshotDiffSql =
    """WITH newsnap AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |old1 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 5 = 0 THEN substr(text, 1, 50)
      |             ELSE text END) AS fp
      |  FROM documents WHERE doc_id % 7 <> 0),
      |old2 AS (SELECT doc_id + 100000 AS doc_id, md5(text) AS fp
      |         FROM documents WHERE doc_id % 11 = 0),
      |oldsnap AS (SELECT * FROM old1 UNION ALL SELECT * FROM old2),
      |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |        CASE WHEN o.fp IS NULL THEN 'added'
      |             WHEN n.fp IS NULL THEN 'removed'
      |             WHEN o.fp = n.fp THEN 'unchanged'
      |             ELSE 'changed' END AS status
      |      FROM oldsnap o FULL JOIN newsnap n ON o.doc_id = n.doc_id)
      |SELECT status, count(*) AS docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM d GROUP BY status ORDER BY status""".stripMargin

  // -- hard-negative mining (contrastive-training prep): each anchor's
  //    top-10 cosine neighborhood split by label — nearest positive,
  //    nearest (hard) negative, margin, negative count. Exact-pair mode at
  //    gate SF; the oracle replays the identical rank + conditional
  //    aggregation. round(6) on emit; ranking on raw cosines, the same
  //    discipline llm_knn_graph has held green since round 3. ------------
  private val hardNegatives: Q = (s, dir) => {
    val t = Tables(s, dir)
    graft.operators.Similarity.hardNegatives(
        t.embeddings, "vec_id", "embedding", "label", k = 10, nlist = 0)
      .orderBy(col("vec_id"))
  }
  private val hardNegativesSql =
    """WITH s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    a.label AS sl, b.label AS dl,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                               a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                                 b.embedding::DOUBLE[]))) AS c
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      |r AS (SELECT src, dst, sl, dl, c,
      |        row_number() OVER (PARTITION BY src
      |          ORDER BY c DESC, dst) AS rn
      |      FROM s)
      |SELECT src AS vec_id,
      |  round(max(CASE WHEN sl = dl THEN c END), 6) AS pos_cos,
      |  round(max(CASE WHEN sl <> dl THEN c END), 6) AS neg_cos,
      |  round(max(CASE WHEN sl = dl THEN c END)
      |    - max(CASE WHEN sl <> dl THEN c END), 6) AS margin,
      |  CAST(sum(CASE WHEN sl <> dl THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      |FROM r WHERE rn <= 10 GROUP BY src
      |ORDER BY vec_id""".stripMargin

  // -- IVF-mode hard negatives, recall-gated (the scale path: quadratic
  //    exact pairs are impossible at corpus size; IVF-blocked candidates
  //    must still surface the same hard negative). Agreement = null-safe
  //    equality of the per-anchor hard-negative cosine vs exact mode.
  //    probes=5/nlist=16 measured 0.99 at sf0.01 AND sf0.1 before the 0.9
  //    threshold was frozen (probes=3 sat at 0.81 — too tight to gate).
  //    Oracle states n_anchors exactly and the boolean as TRUE: a recall
  //    regression flips it and the hash diverges. -----------------------
  private val hardNegativesIvf: Q = (s, dir) => {
    val t = Tables(s, dir)
    val ex = graft.operators.Similarity.hardNegatives(
        t.embeddings, "vec_id", "embedding", "label", k = 10, nlist = 0)
      .select(col("vec_id"), col("neg_cos").as("__neg_exact"))
    val iv = graft.operators.Similarity.hardNegatives(
        t.embeddings, "vec_id", "embedding", "label", k = 10, nlist = 16,
        probes = 5)
      .select(col("vec_id"), col("neg_cos").as("__neg_ivf"))
    ex.join(iv, Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_anchors"),
        sum(when(col("__neg_ivf") <=> col("__neg_exact"), lit(1L))
          .otherwise(lit(0L))).as("__match"))
      .select(col("n_anchors"),
        (col("__match").cast("double") / col("n_anchors") >= 0.9)
          .as("hard_neg_recall_ok"))
  }
  private val hardNegativesIvfSql =
    """SELECT count(*) AS n_anchors, TRUE AS hard_neg_recall_ok
      |FROM embeddings""".stripMargin

  // -- bucketed shuffle-free join, driver-gated: both sides written
  //    bucketed+sorted on the join key, re-read, and joined with broadcast
  //    disabled — the executed JOIN plan must contain ZERO Exchange nodes
  //    (bucket files are the pre-shuffled layout; at 100 TB this is the
  //    amortize-the-shuffle-once story writeBucketed exists for). The
  //    result itself must equal the plain-join rollup the oracle computes.
  //    Temp-path tables, dropped and deleted after; confs restored. ------
  private val bucketedJoin: Q = (s, dir) => {
    val t = Tables(s, dir)
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket-gate")
    val prevBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
      def writeBucketed(df: org.apache.spark.sql.DataFrame, name: String,
                        key: String): Unit =
        df.write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", wh.resolve(name).toString)
          .format("parquet").saveAsTable(name)
      writeBucketed(t.orders.select(col("o_custkey"), col("o_totalprice")),
        "graft_bkt_orders", "o_custkey")
      writeBucketed(t.customer.select(col("c_custkey"), col("c_acctbal")),
        "graft_bkt_customer", "c_custkey")
      val joined = s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"),
          col("o_custkey") === col("c_custkey"))
      val shuffleFree =
        !joined.queryExecution.executedPlan.toString.contains("Exchange")
      // integer-exact checksum: bigint cents weighted by a key residue —
      // immune to double-summation order at any magnitude (a raw double
      // sum of the product diverges in the 1e13 range)
      val r = joined.agg(count(lit(1)),
        round(sum(col("o_totalprice")), 2),
        sum(round(col("o_totalprice") * 100).cast("long")
          * pmod(col("o_custkey"), lit(97)))).head
      import s.implicits._
      Seq((r.getLong(0), r.getDouble(1), r.getLong(2), shuffleFree))
        .toDF("n_rows", "sum_price", "cents_checksum", "shuffle_free_ok")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkt_customer")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(wh.toFile)
    }
  }
  private val bucketedJoinSql =
    """SELECT count(*) AS n_rows,
      |  round(sum(o_totalprice), 2) AS sum_price,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
      |    * (o_custkey % 97)) AS BIGINT) AS cents_checksum,
      |  true AS shuffle_free_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // -- URL canonicalization + dedup: the FIRST dedup a crawl pipeline
  //    runs. Synthetic URLs built from the row's own columns (the PII
  //    pattern) with planted case noise, default port, tracking params,
  //    fragments, and trailing slashes; both engines replay the identical
  //    regexp canonicalization chain and group by canonical URL. --------
  private val urlDedup: Q = (s, dir) => {
    val t = Tables(s, dir)
    val raw = concat(
      lit("Http://WWW."), col("source"), lit(".Example.com:80/docs/"),
      pmod(col("doc_id"), lit(7)).cast("string"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
          lit("?utm_source=x&utm_campaign=y"))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("?id="), pmod(col("doc_id"), lit(5)).cast("string"),
            lit("&utm_medium=z")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("#frag"))
        .otherwise(lit("")))
    t.documents.select(col("doc_id"),
        graft.operators.TextAnalysis.canonicalizeUrl(raw).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
      .orderBy(col("canon_url"))
  }
  private val urlDedupSql =
    """WITH u AS (SELECT doc_id,
      |    'Http://WWW.' || source || '.Example.com:80/docs/'
      |    || CAST(doc_id % 7 AS VARCHAR)
      |    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      |    || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&utm_campaign=y'
      |            WHEN doc_id % 3 = 1 THEN '?id='
      |              || CAST(doc_id % 5 AS VARCHAR) || '&utm_medium=z'
      |            ELSE '' END
      |    || CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS raw
      |  FROM documents),
      |c0 AS (SELECT doc_id, regexp_replace(raw, '#.*$', '') AS s FROM u),
      |c2 AS (SELECT doc_id,
      |    regexp_replace(lower(regexp_extract(s,
      |      '^([^/?#]+//[^/?#]*)', 1)), ':(80|443)$', '')
      |    || regexp_replace(s, '^[^/?#]+//[^/?#]*', '') AS s FROM c0),
      |c3 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(s,
      |    '&(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
      |    '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&', '?'),
      |    '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*$', '') AS s FROM c2),
      |canon AS (SELECT doc_id, regexp_replace(s, '/$', '') AS canon_url
      |          FROM c3)
      |SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keeper
      |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin

  // -- margin-based bitext mining (Artetxe & Schwenk 2019): the embedding
  //    corpus split by label parity stands in for two languages; per
  //    left-side doc the best cross-side candidate under the ratio margin
  //    (hubness-cancelling), with the mutual-best flag. Exact mode at
  //    gate SF; the oracle replays the identical margins and ranks. -----
  private val bitextMine: Q = (s, dir) => {
    val t = Tables(s, dir)
    val a = t.embeddings.filter(pmod(col("label"), lit(2)) === 0)
    val b = t.embeddings.filter(pmod(col("label"), lit(2)) === 1)
    graft.operators.Similarity.bitextMine(a, b, "vec_id", "embedding",
        k = 4)
      .orderBy(col("src"))
  }
  private val bitextMineSql =
    """WITH a AS (SELECT vec_id, embedding FROM embeddings
      |           WHERE label % 2 = 0),
      |b AS (SELECT vec_id, embedding FROM embeddings WHERE label % 2 = 1),
      |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
      |      / (sqrt(list_dot_product(a.embedding::DOUBLE[],
      |                               a.embedding::DOUBLE[]))
      |         * sqrt(list_dot_product(b.embedding::DOUBLE[],
      |                                 b.embedding::DOUBLE[]))) AS c
      |  FROM a, b),
      |kl AS (SELECT src, round(avg(c), 6) AS al FROM (
      |    SELECT src, c, row_number() OVER (PARTITION BY src
      |      ORDER BY c DESC, dst) AS rn FROM p) WHERE rn <= 4
      |  GROUP BY src),
      |kr AS (SELECT dst, round(avg(c), 6) AS ar FROM (
      |    SELECT dst, c, row_number() OVER (PARTITION BY dst
      |      ORDER BY c DESC, src) AS rn FROM p) WHERE rn <= 4
      |  GROUP BY dst),
      |m AS (SELECT src, dst, round(c * 2 / (al + ar), 6) AS margin
      |      FROM p JOIN kl USING (src) JOIN kr USING (dst)),
      |bl AS (SELECT src, dst, margin, row_number() OVER (PARTITION BY src
      |         ORDER BY margin DESC, dst) AS rn FROM m),
      |br AS (SELECT src, dst, row_number() OVER (PARTITION BY dst
      |         ORDER BY margin DESC, src) AS rn FROM m)
      |SELECT bl.src, bl.dst, bl.margin,
      |  (br.src IS NOT NULL) AS mutual
      |FROM bl LEFT JOIN (SELECT src, dst FROM br WHERE rn = 1) br
      |  ON bl.src = br.src AND bl.dst = br.dst
      |WHERE bl.rn = 1 ORDER BY bl.src""".stripMargin

  // -- Kneser–Ney bigram fluency: backoff mass to continuation counts —
  //    all inputs exact integers + the binary-exact 0.75 discount, so the
  //    per-pair probability is bit-identical across engines; round(6)
  //    absorbs ln and the tf-weighted summation order. -------------------
  private val lmKneserNey: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.bigramKneserNey(t.documents, "doc_id", "text")
      .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"),
        col("n_bigrams"))
      .orderBy(col("doc_id"))
  }
  private val lmKneserNeySql =
    """WITH toks AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |bi AS (SELECT doc_id, tk[i] AS w, tk[i + 1] AS w2
      |       FROM toks, unnest(generate_series(1, len(tk) - 1)) AS t(i)
      |       WHERE len(tk) >= 2),
      |bt AS (SELECT doc_id, w, w2, count(*) AS tf FROM bi GROUP BY 1, 2, 3),
      |bc AS (SELECT w, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
      |ctx AS (SELECT w, CAST(sum(cb) AS BIGINT) AS cw, count(*) AS nf
      |        FROM bc GROUP BY w),
      |cont AS (SELECT w2, count(*) AS np FROM bc GROUP BY w2),
      |ty AS (SELECT count(*) AS b FROM bc),
      |sc AS (SELECT bt.doc_id, bt.tf,
      |    ln(greatest(cb - 0.75, 0) / cw
      |       + 0.75 * nf / cw * (np / CAST(b AS DOUBLE))) AS lp
      |  FROM bt JOIN bc USING (w, w2) JOIN ctx USING (w)
      |  JOIN cont USING (w2) CROSS JOIN ty)
      |SELECT doc_id, round(sum(tf * lp) / sum(tf), 6) AS avg_logprob,
      |  CAST(sum(tf) AS BIGINT) AS n_bigrams
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- model-based quality filtering, scoring half: logistic score with
  //    FIXED literal weights over three cheap features (length, token
  //    count, distinct-token ratio). z folds left-to-right identically on
  //    both engines; round(6) then the keep threshold compares the
  //    ROUNDED score. The trainer half (distributed batch gradient, one
  //    aggregation pass per iteration) is spec-gated on separable data. --
  private val qualityClassifier: Q = (s, dir) => {
    val t = Tables(s, dir)
    val toks = split(trim(col("text")), "\\s+")
    val toksL = split(lower(trim(col("text"))), "\\s+")
    val feats = Seq(
      col("n_chars") / lit(1000.0),
      size(toks) / lit(100.0),
      size(array_distinct(toksL)) / size(toksL))
    val q = round(Curation.logisticScore(feats,
      Seq(0.8, -0.5, 2.0), bias = -1.0), 6)
    t.documents.select(col("doc_id"), q.as("quality_p"),
        (q >= 0.5).as("keep"))
      .orderBy(col("doc_id"))
  }
  private val qualityClassifierSql =
    """WITH f AS (SELECT doc_id,
      |    n_chars / 1000.0 AS f1,
      |    len(string_split_regex(trim(text), '\s+')) / 100.0 AS f2,
      |    len(list_distinct(string_split_regex(lower(trim(text)),
      |      '\s+')))
      |      / CAST(len(string_split_regex(lower(trim(text)), '\s+'))
      |        AS DOUBLE) AS f3
      |  FROM documents),
      |s AS (SELECT doc_id,
      |    round(1.0 / (1.0 + exp(-(-1.0 + f1 * 0.8 + f2 * -0.5
      |      + f3 * 2.0))), 6) AS quality_p
      |  FROM f)
      |SELECT doc_id, quality_p, quality_p >= 0.5 AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  def defs: Map[String, Q] = Map(
    "llm_dsir_select" -> dsirSelect,
    "llm_dedup_lines" -> dedupLines,
    "llm_dedup_substring" -> dedupSubstring,
    "llm_normalize" -> normalize,
    "llm_salted_join" -> saltedJoin,
    "llm_snapshot_diff" -> snapshotDiff,
    "llm_hard_negatives" -> hardNegatives,
    "llm_hard_negatives_ivf" -> hardNegativesIvf,
    "llm_bucketed_join" -> bucketedJoin,
    "llm_url_dedup" -> urlDedup,
    "llm_bitext_mine" -> bitextMine,
    "llm_lm_kneser_ney" -> lmKneserNey,
    "llm_quality_classifier" -> qualityClassifier)

  def oracle: Map[String, String] = Map(
    "llm_dsir_select" -> dsirSelectSql,
    "llm_dedup_lines" -> dedupLinesSql,
    "llm_dedup_substring" -> dedupSubstringSql,
    "llm_normalize" -> normalizeSql,
    "llm_salted_join" -> saltedJoinSql,
    "llm_snapshot_diff" -> snapshotDiffSql,
    "llm_hard_negatives" -> hardNegativesSql,
    "llm_hard_negatives_ivf" -> hardNegativesIvfSql,
    "llm_bucketed_join" -> bucketedJoinSql,
    "llm_url_dedup" -> urlDedupSql,
    "llm_bitext_mine" -> bitextMineSql,
    "llm_lm_kneser_ney" -> lmKneserNeySql,
    "llm_quality_classifier" -> qualityClassifierSql)
}
