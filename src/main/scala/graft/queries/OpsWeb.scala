package graft.queries

import graft.Tables
import graft.operators.{Curation, Graph, Scale, Temporal, TextAnalysis}
import org.apache.spark.sql.functions._

/** Web-pipeline and text-mining operators (round 6): link-graph
  * analytics (PageRank / seeded TrustRank / HITS + per-page degree
  * stats — the crawl-quality priors), the crawl→text WET extraction
  * step, C4/RefinedWeb-style per-domain capping, the interval-overlap
  * join, PMI collocation mining, per-document TF-IDF keywords, best-fit
  * sequence packing, positional phrase search, token entropy, corpus KL
  * drift, median/MAD length outliers, mojibake repair, and two
  * capstones (end-to-end web curation; incremental ingestion with Bloom
  * dedup + HLL audit). Link graphs are synthesized deterministically
  * from doc_id arithmetic (the construction-arithmetic oracle method
  * used by the media and PII suites) so every query has an exact DuckDB
  * twin.
  */
object OpsWeb extends Suite {

  // Shared synthetic link graph: every doc u with u%13 != 0 links to
  // (7u+1) mod N and (13u+5) mod N; every third such doc also links to the
  // hub page 0. Docs with u%13 == 0 emit nothing — the DANGLING set
  // (~N/13) whose parked rank mass the power iteration must redistribute.
  // Self-loops filtered identically on both engines. Since round 7 the
  // graph is PROMOTED to a real parquet table (Tables.edges: built once
  // per sf dir, src-sorted row groups, then scanned), so every graph
  // query exercises genuine table scan pruning instead of re-deriving
  // doc_id arithmetic; the oracle CTEs below replay the same derivation.

  private val edgesSqlCtes =
    """nn AS (SELECT count(*) AS n FROM documents),
      |el AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 0),
      |e AS MATERIALIZED (SELECT src, dst FROM (
      |    SELECT doc_id AS src, (doc_id * 7 + 1) % n AS dst FROM el, nn
      |    UNION ALL
      |    SELECT doc_id, (doc_id * 13 + 5) % n FROM el, nn
      |    UNION ALL
      |    SELECT doc_id, 0 FROM el WHERE doc_id % 3 = 0)
      |  WHERE src <> dst)""".stripMargin

  // -- PageRank centrality: 5 synchronous power iterations at d=0.85 with
  //    dangling-mass redistribution; emitted scaled by N (mean 1.0) and
  //    rounded — round(6) absorbs the engine-dependent double-summation
  //    order (~1e-14 after 5 contractive iterations). The oracle UNROLLS
  //    the same five iterations as CTE chains — an independently-written
  //    second implementation of the same recurrence, value-equal per node.
  //    Float literals use e0-notation in SQL so DuckDB parses DOUBLEs (a
  //    bare 0.85 is DECIMAL) and (1 - 0.85e0) reproduces Scala's
  //    1.0 - 0.85 bit pattern. ---------------------------------------------
  private val pageRankQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("__n"))
    Graph.pageRank(docs, t.edges, "doc_id", "src", "dst", iters = 5)
      .crossJoin(broadcast(cnt))
      .select(col("doc_id"),
        round(col("rank") * col("__n"), 6).as("rank_scaled"))
      .orderBy(col("doc_id"))
  }
  private val pageRankSql = {
    val iters = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS (SELECT coalesce(sum(r), 0) AS dm FROM $p
        |  LEFT JOIN od ON $p.id = od.src WHERE od.src IS NULL),
        |c$k AS (SELECT e.dst AS id, sum($p.r / od.odeg) AS c
        |  FROM e JOIN od ON e.src = od.src JOIN $p ON e.src = $p.id
        |  GROUP BY e.dst),
        |r$k AS MATERIALIZED (SELECT d.doc_id AS id,
        |    (1 - 0.85e0) / nn.n
        |      + 0.85e0 * (coalesce(c$k.c, 0) + d$k.dm / nn.n) AS r
        |  FROM documents d CROSS JOIN nn CROSS JOIN d$k
        |  LEFT JOIN c$k ON d.doc_id = c$k.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSqlCtes,
      |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY 1),
      |r0 AS MATERIALIZED (SELECT doc_id AS id, 1e0 / n AS r
      |      FROM documents, nn),
      |$iters
      |SELECT r5.id AS doc_id, round(r5.r * nn.n, 6) AS rank_scaled
      |FROM r5, nn ORDER BY doc_id""".stripMargin
  }

  // -- TrustRank (Gyöngyi et al. 2004): the same power iteration with the
  //    teleport distribution concentrated on a vetted seed set (docs with
  //    doc_id % 17 == 0) — restart AND dangling mass go to seeds, so
  //    pages no seed reaches decay to exactly zero. Oracle unrolls the
  //    seeded recurrence the same way llm_pagerank's does. ---------------
  private val trustRankQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("__n"))
    val seeds = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
    Graph.pageRank(docs, t.edges, "doc_id", "src", "dst",
        iters = 5, teleport = Some(seeds))
      .crossJoin(broadcast(cnt))
      .select(col("doc_id"),
        round(col("rank") * col("__n"), 6).as("trust_scaled"))
      .orderBy(col("doc_id"))
  }
  private val trustRankSql = {
    val iters = (1 to 5).map { k =>
      val p = s"r${k - 1}"
      s"""d$k AS (SELECT coalesce(sum(r), 0) AS dm FROM $p
        |  LEFT JOIN od ON $p.id = od.src WHERE od.src IS NULL),
        |c$k AS (SELECT e.dst AS id, sum($p.r / od.odeg) AS c
        |  FROM e JOIN od ON e.src = od.src JOIN $p ON e.src = $p.id
        |  GROUP BY e.dst),
        |r$k AS MATERIALIZED (SELECT tv.id,
        |    (1 - 0.85e0) * tv.tv
        |      + 0.85e0 * (coalesce(c$k.c, 0) + d$k.dm * tv.tv) AS r
        |  FROM tv CROSS JOIN d$k LEFT JOIN c$k ON tv.id = c$k.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSqlCtes,
      |od AS (SELECT src, count(*) AS odeg FROM e GROUP BY 1),
      |sm AS (SELECT count(*) AS m FROM documents WHERE doc_id % 17 = 0),
      |tv AS MATERIALIZED (SELECT d.doc_id AS id,
      |         CASE WHEN d.doc_id % 17 = 0 THEN 1e0 / sm.m
      |              ELSE 0e0 END AS tv
      |       FROM documents d CROSS JOIN sm),
      |r0 AS MATERIALIZED (SELECT id, tv AS r FROM tv),
      |$iters
      |SELECT r5.id AS doc_id, round(r5.r * nn.n, 6) AS trust_scaled
      |FROM r5, nn ORDER BY doc_id""".stripMargin
  }

  // -- HITS hubs and authorities over the same graph: 5 rounds of the
  //    mutual recurrence with L1 normalization per half-step; oracle
  //    unrolls all ten half-steps. Emitted ×N and rounded like the rank
  //    queries. -----------------------------------------------------------
  private val hitsQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"))
    val cnt = docs.agg(count(lit(1)).as("__n"))
    Graph.hits(docs, t.edges, "doc_id", "src", "dst",
        iters = 5)
      .crossJoin(broadcast(cnt))
      .select(col("doc_id"),
        round(col("authority") * col("__n"), 6).as("authority_scaled"),
        round(col("hub") * col("__n"), 6).as("hub_scaled"))
      .orderBy(col("doc_id"))
  }
  private val hitsSql = {
    val iters = (1 to 5).map { k =>
      val p = s"h${k - 1}"
      s"""a${k}r AS MATERIALIZED (SELECT e.dst AS id, sum($p.s) AS raw
        |  FROM e JOIN $p ON e.src = $p.id GROUP BY e.dst),
        |a${k}t AS (SELECT coalesce(sum(raw), 0) AS t FROM a${k}r),
        |a$k AS MATERIALIZED (SELECT d.doc_id AS id,
        |    coalesce(raw, 0) / t AS s
        |  FROM documents d CROSS JOIN a${k}t
        |  LEFT JOIN a${k}r ON d.doc_id = a${k}r.id),
        |h${k}r AS MATERIALIZED (SELECT e.src AS id, sum(a$k.s) AS raw
        |  FROM e JOIN a$k ON e.dst = a$k.id GROUP BY e.src),
        |h${k}t AS (SELECT coalesce(sum(raw), 0) AS t FROM h${k}r),
        |h$k AS MATERIALIZED (SELECT d.doc_id AS id,
        |    coalesce(raw, 0) / t AS s
        |  FROM documents d CROSS JOIN h${k}t
        |  LEFT JOIN h${k}r ON d.doc_id = h${k}r.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesSqlCtes,
      |h0 AS MATERIALIZED (SELECT doc_id AS id, 1e0 / n AS s
      |      FROM documents, nn),
      |$iters
      |SELECT a5.id AS doc_id,
      |  round(a5.s * nn.n, 6) AS authority_scaled,
      |  round(h5.s * nn.n, 6) AS hub_scaled
      |FROM a5 JOIN h5 ON a5.id = h5.id CROSS JOIN nn
      |ORDER BY doc_id""".stripMargin
  }

  // -- Per-page degree stats over the same graph: out/in degree, dangling,
  //    isolated — two map-side-combined grouped counts + two left joins. --
  private val linkStatsQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"))
    Graph.linkStats(docs, t.edges, "doc_id", "src", "dst")
      .orderBy(col("doc_id"))
  }
  private val linkStatsSql =
    s"""WITH $edgesSqlCtes,
      |od AS (SELECT src, count(*) AS odg FROM e GROUP BY 1),
      |idg AS (SELECT dst, count(*) AS idg FROM e GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(od.odg, 0) AS out_deg,
      |  coalesce(idg.idg, 0) AS in_deg,
      |  od.src IS NULL AS dangling,
      |  (od.src IS NULL AND idg.dst IS NULL) AS isolated
      |FROM documents d
      |LEFT JOIN od ON d.doc_id = od.src
      |LEFT JOIN idg ON d.doc_id = idg.dst
      |ORDER BY d.doc_id""".stripMargin

  // -- Per-domain document capping (C4/RefinedWeb site quota): synthetic
  //    URLs with planted case/port noise, registrable domain extracted by
  //    the shared regexp chain, then at most 5 docs per domain by
  //    n_chars desc (ties to smallest doc_id) — the GroupedTopK bounded
  //    heap, no per-domain sort. -----------------------------------------
  private val domainCapQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val url = concat(lit("HTTPS://WWW."), col("source"),
      pmod(col("doc_id"), lit(3)).cast("string"),
      lit(".Example.org:443/p/"), col("doc_id").cast("string"))
    val withDom = t.documents.select(col("doc_id"), col("n_chars"),
      TextAnalysis.extractDomain(url).as("domain"))
    graft.plans.GroupedTopK(withDom, Seq("domain"),
        Seq(col("n_chars").desc, col("doc_id").asc), 5)
      .select(col("domain"), col("doc_id"), col("n_chars"))
      .orderBy(col("domain"), col("doc_id"))
  }
  private val domainCapSql =
    """WITH u AS (SELECT doc_id, n_chars,
      |    regexp_replace(regexp_replace(lower(regexp_replace(
      |      regexp_extract(
      |      'HTTPS://WWW.' || source || CAST(doc_id % 3 AS VARCHAR)
      |        || '.Example.org:443/p/' || CAST(doc_id AS VARCHAR),
      |      '^[^/?#]*//([^/?#]+)', 1),
      |      '^.*@', '')), ':[0-9]*$', ''), '^www\.', '') AS domain
      |  FROM documents),
      |r AS (SELECT domain, doc_id, n_chars, row_number() OVER
      |        (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
      |      FROM u)
      |SELECT domain, doc_id, n_chars FROM r WHERE rn <= 5
      |ORDER BY domain, doc_id""".stripMargin

  // -- HTML → text extraction (the WET step): each doc wrapped in a full
  //    synthetic page — comment, style and script blocks (the script
  //    contains '<', '&&' and a '</div>' string literal, so only the
  //    non-greedy (?i) block patterns remove it correctly), nav/footer
  //    boilerplate, and the five core entities double- and single-escaped.
  //    Both engines replay the identical strip→decode→collapse chain. ----
  private val htmlExtractQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val html = concat(
      lit("<html><head><!-- crawl 17 --><title>Doc</title>" +
        "<style type=\"text/css\">p{margin:0} q>a{x:1}</style>" +
        "<script>if(a<b&&c>0){x=\"</div>\";}</script></head>" +
        "<body><nav>Home | About</nav><h1>"),
      substring(col("text"), 1, 40),
      lit("</h1><p id=\"main\">"), col("text"),
      lit(" &amp;lt;esc&amp;gt; &lt;raw&gt; &quot;q&quot; &#39;s&#39;" +
        "&nbsp;end</p><footer>(c) 2026</footer></body></html>"))
    t.documents.select(col("doc_id"),
        TextAnalysis.extractHtmlText(html).as("clean_text"),
        length(html).cast("long").as("html_len"))
      .orderBy(col("doc_id"))
  }
  private val htmlExtractSql =
    """WITH h AS (SELECT doc_id,
      |    '<html><head><!-- crawl 17 --><title>Doc</title>'
      |    || '<style type="text/css">p{margin:0} q>a{x:1}</style>'
      |    || '<script>if(a<b&&c>0){x="</div>";}</script></head>'
      |    || '<body><nav>Home | About</nav><h1>'
      |    || substr(text, 1, 40) || '</h1><p id="main">' || text
      |    || ' &amp;lt;esc&amp;gt; &lt;raw&gt; &quot;q&quot; &#39;s&#39;'
      |    || '&nbsp;end</p><footer>(c) 2026</footer></body></html>'
      |      AS html
      |  FROM documents),
      |s1 AS (SELECT doc_id, html,
      |    regexp_replace(html, '<!--[\s\S]*?-->', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, html, regexp_replace(t,
      |    '(?i)<script[\s\S]*?</script>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, html, regexp_replace(t,
      |    '(?i)<style[\s\S]*?</style>', ' ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, html,
      |    regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, html,
      |    replace(replace(replace(replace(replace(replace(t,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&') AS t FROM s4)
      |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text,
      |  length(html) AS html_len
      |FROM s5 ORDER BY doc_id""".stripMargin

  // -- Interval-overlap join: validity windows from two order slices;
  //    bucket-decomposed equi-join with the first-shared-bucket guard (no
  //    post-join distinct), rollup per left interval. The oracle is
  //    DuckDB's native inequality-join planner — a structurally different
  //    algorithm that must produce the identical pair set. ----------------
  private val intervalJoinQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    def days(c: org.apache.spark.sql.Column) =
      datediff(c.cast("date"), lit("1995-01-01").cast("date")).cast("long")
    val a = t.orders.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey").as("a_id"),
        days(col("o_orderdate")).as("a_start"),
        (days(col("o_orderdate")) + pmod(col("o_custkey"), lit(20)))
          .as("a_end"))
    val b = t.orders.filter(pmod(col("o_orderkey"), lit(7)) === 3)
      .select(col("o_orderkey").as("b_id"),
        days(col("o_orderdate")).as("b_start"),
        (days(col("o_orderdate")) + pmod(col("o_custkey"), lit(15)))
          .as("b_end"))
    Temporal.intervalOverlapJoin(a, col("a_start"), col("a_end"),
        b, col("b_start"), col("b_end"), binWidth = 16L)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_overlap"), sum(col("b_id")).as("b_id_sum"),
        min(col("b_id")).as("first_b"))
      .orderBy(col("a_id"))
  }
  private val intervalJoinSql =
    """WITH a AS (SELECT o_orderkey AS a_id,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS a_start,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      + o_custkey % 20 AS a_end
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |b AS (SELECT o_orderkey AS b_id,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      AS b_start,
      |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      |      + o_custkey % 15 AS b_end
      |  FROM orders WHERE o_orderkey % 7 = 3)
      |SELECT a_id, count(*) AS n_overlap,
      |  CAST(sum(b_id) AS BIGINT) AS b_id_sum, min(b_id) AS first_b
      |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      |GROUP BY a_id ORDER BY a_id""".stripMargin

  // -- PMI collocations: top-50 bigrams by rounded pointwise mutual
  //    information (min count 5) — phrase mining over the corpus bigram
  //    stream; both engines rank on the ROUNDED pmi with a (w1, w2)
  //    tie-break so the selected set is portable. ------------------------
  private val collocationsQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.collocations(t.documents, "doc_id", "text", minCount = 5,
      k = 50)
  }
  private val collocationsSql =
    """WITH tk AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |bi AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
      |       FROM tk, unnest(generate_series(1, len(tk) - 1)) AS t(i)
      |       WHERE len(tk) >= 2),
      |uni AS (SELECT w, count(*) AS cu FROM (
      |    SELECT unnest(tk) AS w FROM tk) WHERE w <> '' GROUP BY w),
      |bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
      |tt AS (SELECT CAST(sum(cu) AS BIGINT) AS tt FROM uni),
      |tb AS (SELECT CAST(sum(cb) AS BIGINT) AS tb FROM bc)
      |SELECT w1, w2, cb,
      |  round(ln((cb / tb) / ((u1.cu / tt) * (u2.cu / tt))), 6) AS pmi
      |FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
      |CROSS JOIN tt CROSS JOIN tb
      |WHERE cb >= 5
      |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin

  // -- per-doc TF-IDF keywords: top-3 terms per document by the smoothed
  //    idf score via the GroupedTopK bounded heap; oracle = row_number
  //    over the identical rounded ordering. ------------------------------
  private val keywordsQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.keywords(t.documents, "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }
  private val keywordsSql =
    """WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
      |      '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
      |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |nd AS (SELECT count(*) AS nd FROM documents),
      |sc AS (SELECT doc_id, w AS term, tf,
      |    round(tf * round(ln((1 + nd) / (1 + df)) + 1, 6), 6) AS score
      |  FROM tf JOIN dfq USING (w) CROSS JOIN nd),
      |r AS (SELECT doc_id, term, tf, score, row_number() OVER
      |        (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      |      FROM sc)
      |SELECT doc_id, term, tf, score FROM r WHERE rn <= 3
      |ORDER BY doc_id, score DESC, term""".stripMargin

  // -- best-fit-decreasing packing, invariant-gated: the bin assignment
  //    itself is deterministic but depends on xxhash64 bucketing DuckDB
  //    cannot replay, so the gate hash-checks the oracle-computable facts
  //    (item count, token total) and asserts the packing CONTRACT
  //    in-query: every bin within capacity, every item assigned exactly
  //    once, and the FFD bound n_bins ≤ 11/9·Σ_b OPT_lb(b) + B where
  //    OPT_lb(b) = max(ceil(total_b/cap), #items with len > cap/2) is a
  //    VALID lower bound on the per-bucket optimum (volume bound +
  //    pigeonhole: two >cap/2 items can never share a bin) — ceil alone
  //    is not, since FFD's 11/9 guarantee is relative to OPT and a
  //    bucket full of (cap/2, cap] items has OPT = n but volume bound
  //    ~n/2. A broken packer flips a boolean and the hash diverges (the
  //    recall-twin discipline). ------------------------------------------
  private val packBestFitQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val cap = 512L
    val lens = t.documents.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("len"))
    val packed = graft.operators.Dedup.reuse("web:packed",
      Scale.packBestFit(lens, "doc_id", "len", cap, buckets = 32))
    val binLoads = packed.groupBy(col("bin_id"))
      .agg(sum(col("len")).as("load"))
    val bucketBound = packed.groupBy(col("bucket"))
      .agg(greatest(
        ceil(sum(col("len")).cast("double") / cap).cast("long"),
        sum(when(col("len") > cap / 2, 1L).otherwise(0L))).as("optlb"))
      .agg(sum(col("optlb")).cast("long").as("optlb"),
        count(lit(1)).as("nbk"))
    val stats = packed.agg(count(lit(1)).as("n_items"),
      sum(col("len")).as("total_len"),
      countDistinct(col("doc_id")).as("n_ids"),
      countDistinct(col("bin_id")).as("n_bins"))
    val loadStats = binLoads.agg(max(col("load")).as("max_load"))
    stats.crossJoin(broadcast(loadStats))
      .crossJoin(broadcast(bucketBound))
      .select(col("n_items"), col("total_len"),
        (col("max_load") <= cap).as("bins_ok"),
        (col("n_bins").cast("double") <=
          lit(11.0 / 9.0) * col("optlb") + col("nbk")).as("bound_ok"),
        (col("n_ids") === col("n_items")).as("once_ok"))
  }
  private val packBestFitSql =
    """SELECT count(*) AS n_items,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |    AS total_len,
      |  TRUE AS bins_ok, TRUE AS bound_ok, TRUE AS once_ok
      |FROM documents
      |WHERE len(string_split_regex(trim(text), '\s+'))
      |  BETWEEN 1 AND 512""".stripMargin

  // -- end-to-end web curation capstone: crawl URL canonicalization →
  //    crawl-level dedup (min-id per canonical URL) → HTML→text WET
  //    extraction → token-count quality floor → per-domain capping →
  //    per-domain corpus stats. ONE oracle replays the whole chain
  //    (regexp-by-regexp, row_number twice) — the pipeline_curate_v2
  //    discipline applied to the web suite. ------------------------------
  private val pipelineWebQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val raw = concat(lit("HTTP://WWW."), col("source"),
      lit(".Site.COM/p/"), pmod(col("doc_id"), lit(50)).cast("string"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("?utm_source=a"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("#f"))
        .otherwise(lit("")))
    val html = concat(lit("<html><body><nav>Site Nav</nav><p>"),
      col("text"),
      lit(" &amp; tail</p><script>if(x<1&&y>2){z=\"</p>\";}</script>" +
        "</body></html>"))
    val base = t.documents.select(col("doc_id"), col("n_chars"),
      TextAnalysis.canonicalizeUrl(raw).as("canon"), html.as("html"))
    val surv = graft.operators.Dedup.exact(base, Seq("canon"), "doc_id")
    val cleaned = surv
      .withColumn("clean", TextAnalysis.extractHtmlText(col("html")))
      .withColumn("tok", size(split(col("clean"), " ")).cast("long"))
      .filter(col("tok") >= 20)
      .withColumn("domain", TextAnalysis.extractDomain(col("canon")))
    graft.plans.GroupedTopK(cleaned, Seq("domain"),
        Seq(col("n_chars").desc, col("doc_id").asc), 8)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"), sum(col("tok")).as("tok_sum"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("domain"))
  }
  private val pipelineWebSql =
    """WITH u AS (SELECT doc_id, n_chars, text,
      |    'HTTP://WWW.' || source || '.Site.COM/p/'
      |    || CAST(doc_id % 50 AS VARCHAR)
      |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=a' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN '#f' ELSE '' END AS raw
      |  FROM documents),
      |c0 AS (SELECT doc_id, n_chars, text,
      |       regexp_replace(raw, '#.*$', '') AS s FROM u),
      |c2 AS (SELECT doc_id, n_chars, text,
      |    regexp_replace(lower(regexp_extract(s,
      |      '^([^/?#]+//[^/?#]*)', 1)), ':(80|443)$', '')
      |    || regexp_replace(s, '^[^/?#]+//[^/?#]*', '') AS s FROM c0),
      |c3 AS (SELECT doc_id, n_chars, text,
      |    regexp_replace(regexp_replace(regexp_replace(s,
      |    '&(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*', '', 'g'),
      |    '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*&', '?'),
      |    '\?(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*$', '') AS s FROM c2),
      |cn AS (SELECT doc_id, n_chars, text,
      |       regexp_replace(s, '/$', '') AS canon FROM c3),
      |surv AS (SELECT doc_id, n_chars, text, canon FROM (
      |    SELECT *, row_number() OVER (PARTITION BY canon
      |      ORDER BY doc_id) AS rn FROM cn) WHERE rn = 1),
      |h AS (SELECT doc_id, n_chars, canon,
      |    '<html><body><nav>Site Nav</nav><p>' || text
      |    || ' &amp; tail</p><script>if(x<1&&y>2){z="</p>";}</script>'
      |    || '</body></html>' AS html
      |  FROM surv),
      |s1 AS (SELECT doc_id, n_chars, canon,
      |    regexp_replace(html, '<!--[\s\S]*?-->', ' ', 'g') AS t FROM h),
      |s2 AS (SELECT doc_id, n_chars, canon, regexp_replace(t,
      |    '(?i)<script[\s\S]*?</script>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, n_chars, canon, regexp_replace(t,
      |    '(?i)<style[\s\S]*?</style>', ' ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, n_chars, canon,
      |    regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, n_chars, canon,
      |    replace(replace(replace(replace(replace(replace(t,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&') AS t FROM s4),
      |cl AS (SELECT doc_id, n_chars, canon,
      |    trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean FROM s5),
      |tk AS (SELECT doc_id, n_chars, canon,
      |    CAST(len(string_split(clean, ' ')) AS BIGINT) AS tok
      |  FROM cl WHERE len(string_split(clean, ' ')) >= 20),
      |dm AS (SELECT doc_id, n_chars, tok,
      |    regexp_replace(regexp_replace(lower(regexp_replace(
      |      regexp_extract(canon, '^[^/?#]*//([^/?#]+)', 1),
      |      '^.*@', '')), ':[0-9]*$', ''), '^www\.', '')
      |      AS domain FROM tk),
      |cap AS (SELECT domain, doc_id, tok FROM (
      |    SELECT *, row_number() OVER (PARTITION BY domain
      |      ORDER BY n_chars DESC, doc_id) AS rn2 FROM dm)
      |  WHERE rn2 <= 8)
      |SELECT domain, count(*) AS n_kept,
      |  CAST(sum(tok) AS BIGINT) AS tok_sum, min(doc_id) AS first_doc
      |FROM cap GROUP BY domain ORDER BY domain""".stripMargin

  // -- positional phrase search: a common 2-word and a rare 3-word phrase
  //    through the inverted-index join; the oracle replays token-position
  //    equality — a structurally different algorithm (array scan vs
  //    postings join) that must agree doc-by-doc AND count-by-count. -----
  private val phraseSearchQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val p1 = Curation.phraseMatch(t.documents, "doc_id", "text",
        Seq("table", "value"))
      .withColumn("phrase", lit("table value"))
    val p2 = Curation.phraseMatch(t.documents, "doc_id", "text",
        Seq("query", "key", "scan"))
      .withColumn("phrase", lit("query key scan"))
    p1.unionByName(p2)
      .select(col("phrase"), col("doc_id"), col("n_matches"))
      .orderBy(col("phrase"), col("doc_id"))
  }
  private val phraseSearchSql =
    """WITH tk AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS tk
      |  FROM documents),
      |m1 AS (SELECT doc_id, count(*) AS n_matches
      |  FROM tk, unnest(generate_series(1, len(tk) - 1)) AS t(i)
      |  WHERE tk[i] = 'table' AND tk[i + 1] = 'value' GROUP BY doc_id),
      |m2 AS (SELECT doc_id, count(*) AS n_matches
      |  FROM tk, unnest(generate_series(1, len(tk) - 2)) AS t(i)
      |  WHERE tk[i] = 'query' AND tk[i + 1] = 'key' AND tk[i + 2] = 'scan'
      |  GROUP BY doc_id)
      |SELECT phrase, doc_id, n_matches FROM (
      |  SELECT 'table value' AS phrase, doc_id, n_matches FROM m1
      |  UNION ALL
      |  SELECT 'query key scan', doc_id, n_matches FROM m2)
      |ORDER BY phrase, doc_id""".stripMargin

  // -- per-doc token entropy (vocabulary diversity): the ln T − Σtf·ln tf/T
  //    algebraic form on both engines, round(6) on emit. ------------------
  private val tokenEntropyQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.tokenEntropy(t.documents, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_terms"),
        round(col("entropy"), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }
  private val tokenEntropySql =
    """WITH tf AS (SELECT doc_id, w, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)),
      |      '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
      |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |        count(*) AS n_terms,
      |        sum(CAST(tf AS DOUBLE) * ln(tf)) AS stlt
      |      FROM tf GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_terms,
      |  round(ln(n_tokens) - stlt / n_tokens, 6) AS entropy
      |FROM a ORDER BY doc_id""".stripMargin

  // -- incremental-ingestion capstone: yesterday's corpus (docs %3 != 0,
  //    narrow (id, md5) state) + today's batch (docs %3 == 0, every 5th
  //    carrying a planted copy of a seen doc's text) → Bloom-prefiltered
  //    incremental dedup → updated corpus → HLL distinct estimate checked
  //    against exact within 5% in-query. The daily-append shape every
  //    100 TB corpus pipeline runs; counts are exact on both engines,
  //    the sketch tolerance is a recall-twin-style boolean. --------------
  private val pipelineIncrementalQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val docs = t.documents.select(col("doc_id"), col("text"))
    val seen = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .withColumn("fp", md5(col("text")))
    val donor = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("__dtext"))
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .join(donor, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(when(pmod(col("doc_id"), lit(15)) === 0 &&
            col("__dtext").isNotNull, col("__dtext"))
          .otherwise(col("text"))).as("fp"))
    val newDocs = graft.operators.Dedup.reuse("incr2:new",
      graft.operators.Dedup.bloomIncremental(batch,
        seen.select(col("fp")), "fp", "doc_id", fpp = 0.03))
    val updated = graft.operators.Dedup.reuse("incr2:upd",
      seen.select(col("fp")).unionByName(newDocs.select(col("fp"))))
    val a1 = seen.agg(count(lit(1)).as("n_seen"))
    val a2 = batch.agg(count(lit(1)).as("n_batch"),
      countDistinct(col("fp")).as("__nbfp"))
    val a3 = newDocs.agg(count(lit(1)).as("n_new"))
    val a4 = updated.agg(countDistinct(col("fp")).as("distinct_updated"))
    val est = updated.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(fp))").as("__est"))
    a1.crossJoin(broadcast(a2)).crossJoin(broadcast(a3))
      .crossJoin(broadcast(a4)).crossJoin(broadcast(est))
      .select(col("n_seen"), col("n_batch"), col("n_new"),
        (col("__nbfp") - col("n_new")).as("n_dropped"),
        col("distinct_updated"),
        (abs(col("__est") - col("distinct_updated")).cast("double") /
          col("distinct_updated") <= 0.05).as("sketch_ok"))
  }
  private val pipelineIncrementalSql =
    """WITH seen AS (SELECT doc_id, md5(text) AS fp FROM documents
      |             WHERE doc_id % 3 <> 0),
      |donor AS (SELECT doc_id - 1 AS doc_id, text AS dtext
      |          FROM documents),
      |batch AS (SELECT b.doc_id,
      |    md5(CASE WHEN b.doc_id % 15 = 0 AND d.dtext IS NOT NULL
      |             THEN d.dtext ELSE b.text END) AS fp
      |  FROM (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0) b
      |  LEFT JOIN donor d ON b.doc_id = d.doc_id),
      |surv AS (SELECT fp, min(doc_id) AS doc_id FROM batch GROUP BY fp),
      |newdocs AS (SELECT s.doc_id, s.fp FROM surv s
      |  LEFT JOIN (SELECT DISTINCT fp FROM seen) sf ON s.fp = sf.fp
      |  WHERE sf.fp IS NULL),
      |upd AS (SELECT fp FROM seen UNION ALL SELECT fp FROM newdocs)
      |SELECT (SELECT count(*) FROM seen) AS n_seen,
      |  (SELECT count(*) FROM batch) AS n_batch,
      |  (SELECT count(*) FROM newdocs) AS n_new,
      |  (SELECT count(DISTINCT fp) FROM batch)
      |    - (SELECT count(*) FROM newdocs) AS n_dropped,
      |  (SELECT count(DISTINCT fp) FROM upd) AS distinct_updated,
      |  TRUE AS sketch_ok""".stripMargin

  // -- robust length outliers: per-source median/MAD trimming of token
  //    counts at k=2 — integer-valued inputs make every med/mad binary-
  //    exact (x.0 / x.5), so the k·mad flag is engine-portable. ----------
  private val lengthOutliersQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val d = t.documents.select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    Curation.robustOutliers(d, "source", "n_tok")
      .filter(col("is_outlier"))
      .select(col("source"), col("doc_id"), col("n_tok"),
        col("med"), col("mad"))
      .orderBy(col("source"), col("doc_id"))
  }
  private val lengthOutliersSql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |m AS (SELECT source, quantile_cont(n_tok, 0.5) AS med
      |      FROM d GROUP BY source),
      |dev AS (SELECT d.doc_id, d.source, d.n_tok, m.med,
      |        abs(n_tok - med) AS dv
      |        FROM d JOIN m USING (source)),
      |md AS (SELECT source, quantile_cont(dv, 0.5) AS mad
      |       FROM dev GROUP BY source)
      |SELECT dev.source, doc_id, n_tok, med, mad
      |FROM dev JOIN md USING (source)
      |WHERE dv > 2 * mad
      |ORDER BY dev.source, doc_id""".stripMargin

  // -- corpus drift: per-source unigram KL against the corpus pool — the
  //    domain-shift dashboard; no smoothing needed (every group term is a
  //    corpus term), round(6) absorbs summation order. ------------------
  private val corpusKlQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    Curation.corpusDivergence(t.documents, "source", "text")
      .select(col("source"), col("n_tokens"), col("n_terms"),
        round(col("kl"), 6).as("kl"))
      .orderBy(col("source"))
  }
  private val corpusKlSql =
    """WITH g AS (SELECT source, w, count(*) AS c FROM (
      |    SELECT source, unnest(string_split_regex(lower(trim(text)),
      |      '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY source, w),
      |ct AS (SELECT w, CAST(sum(c) AS BIGINT) AS ctot FROM g GROUP BY w),
      |gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS tg,
      |         count(*) AS n_terms
      |       FROM g GROUP BY source),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM g),
      |k AS (SELECT g.source,
      |        sum((c / tg) * ln((c / tg) / (ctot / tt))) AS kl
      |      FROM g JOIN ct USING (w) JOIN gt USING (source) CROSS JOIN tt
      |      GROUP BY g.source)
      |SELECT gt.source, tg AS n_tokens, n_terms, round(kl, 6) AS kl
      |FROM gt JOIN k USING (source) ORDER BY gt.source""".stripMargin

  // -- mojibake repair: every third doc carries a PLANTED UTF-8→Latin-1
  //    corruption built by the engine's own encode/decode round trip; the
  //    guarded repair must restore exactly the original (the oracle
  //    states the known image — construction arithmetic) and must leave
  //    clean docs byte-identical. ---------------------------------------
  private val mojibakeQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val moji = decode(encode(lit("café naïve — ok"), "UTF-8"), "ISO-8859-1")
    val dirty = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(substring(col("text"), 1, 20), lit(" "), moji))
      .otherwise(substring(col("text"), 1, 20))
    t.documents.select(col("doc_id"),
        TextAnalysis.fixMojibake(dirty).as("fixed"),
        (TextAnalysis.fixMojibake(dirty) =!= dirty).as("was_repaired"))
      .orderBy(col("doc_id"))
  }
  private val mojibakeSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0
      |       THEN substr(text, 1, 20) || ' café naïve — ok'
      |       ELSE substr(text, 1, 20) END AS fixed,
      |  doc_id % 3 = 0 AS was_repaired
      |FROM documents ORDER BY doc_id""".stripMargin

  // -- semantic decontamination: corpus vecs ≡1 mod 50 carry a PLANTED
  //    copy of the adjacent eval vector (vec_id−1 ≡ 0 mod 10 → in the
  //    eval slice), so the flagged set is pure construction arithmetic;
  //    everything else sits below cosine 0.5 in this corpus and the 0.8
  //    threshold separates cleanly. ------------------------------------
  private val semanticDecontamQ: Q = (s, dir) => {
    val t = Tables(s, dir)
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val donor = emb.select((col("vec_id") + 1).as("vec_id"),
      col("embedding").as("__dv"))
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .join(donor, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(pmod(col("vec_id"), lit(50)) === 1 && col("__dv").isNotNull,
          col("__dv")).otherwise(col("embedding")).as("embedding"))
    val evalSet = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    graft.operators.Similarity.semanticDecontaminate(
        corpus, evalSet, "vec_id", "embedding", threshold = 0.8)
      .orderBy(col("vec_id"))
  }
  private val semanticDecontamSql =
    """WITH d AS (SELECT vec_id + 1 AS vec_id, embedding AS dv
      |           FROM embeddings),
      |c AS (SELECT e.vec_id,
      |    CASE WHEN e.vec_id % 50 = 1 AND d.dv IS NOT NULL THEN d.dv
      |         ELSE e.embedding END AS v
      |  FROM embeddings e LEFT JOIN d ON e.vec_id = d.vec_id
      |  WHERE e.vec_id % 10 <> 0),
      |ev AS (SELECT vec_id AS eval_id, embedding AS ev FROM embeddings
      |       WHERE vec_id % 10 = 0),
      |s AS (SELECT c.vec_id, ev.eval_id,
      |    round(list_dot_product(c.v::DOUBLE[], ev.ev::DOUBLE[])
      |      / (sqrt(list_dot_product(c.v::DOUBLE[], c.v::DOUBLE[]))
      |         * sqrt(list_dot_product(ev.ev::DOUBLE[],
      |                                 ev.ev::DOUBLE[]))), 6) AS cos
      |  FROM c, ev),
      |r AS (SELECT vec_id, eval_id, cos, row_number() OVER
      |        (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS rn
      |      FROM s)
      |SELECT vec_id, eval_id, cos AS cosine
      |FROM r WHERE rn = 1 AND cos >= 0.8 ORDER BY vec_id""".stripMargin

  def defs: Map[String, Q] = Map(
    "llm_semantic_decontaminate" -> semanticDecontamQ,
    "llm_corpus_kl" -> corpusKlQ,
    "llm_mojibake" -> mojibakeQ,
    "llm_length_outliers" -> lengthOutliersQ,
    "llm_pipeline_incremental" -> pipelineIncrementalQ,
    "llm_phrase_search" -> phraseSearchQ,
    "llm_token_entropy" -> tokenEntropyQ,
    "llm_pipeline_web" -> pipelineWebQ,
    "llm_collocations" -> collocationsQ,
    "llm_keywords" -> keywordsQ,
    "llm_pack_bestfit" -> packBestFitQ,
    "llm_pagerank" -> pageRankQ,
    "llm_trustrank" -> trustRankQ,
    "llm_hits" -> hitsQ,
    "llm_link_stats" -> linkStatsQ,
    "llm_domain_cap" -> domainCapQ,
    "llm_html_extract" -> htmlExtractQ,
    "op_interval_join" -> intervalJoinQ)

  def oracle: Map[String, String] = Map(
    "llm_semantic_decontaminate" -> semanticDecontamSql,
    "llm_corpus_kl" -> corpusKlSql,
    "llm_mojibake" -> mojibakeSql,
    "llm_length_outliers" -> lengthOutliersSql,
    "llm_pipeline_incremental" -> pipelineIncrementalSql,
    "llm_phrase_search" -> phraseSearchSql,
    "llm_token_entropy" -> tokenEntropySql,
    "llm_pipeline_web" -> pipelineWebSql,
    "llm_collocations" -> collocationsSql,
    "llm_keywords" -> keywordsSql,
    "llm_pack_bestfit" -> packBestFitSql,
    "llm_pagerank" -> pageRankSql,
    "llm_trustrank" -> trustRankSql,
    "llm_hits" -> hitsSql,
    "llm_link_stats" -> linkStatsSql,
    "llm_domain_cap" -> domainCapSql,
    "llm_html_extract" -> htmlExtractSql,
    "op_interval_join" -> intervalJoinSql)
}
