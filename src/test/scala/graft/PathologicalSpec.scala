package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.plans.GroupedTopK

/** Adversarial-skew stress: synthetic pathological corpora that hit the
  * safety machinery the gated queries (natural-ish data) never force.
  * The gates prove correctness at sf0.1; this suite proves the 100×-skew
  * story is load-bearing — caps bound the work, valves engage without
  * changing answers, the lossless filter stays lossless under a power-law
  * vocabulary, and both sides of the union-find size gate agree.
  */
class PathologicalSpec extends SparkSpec {
  import spark.implicits._

  test("GroupedTopK safety valve: forced past the per-partition group cap, " +
    "the sort fallback returns exactly the heap path's answer") {
    // 200k rows / 50k groups over 4 partitions = ~12.5k groups per
    // partition; a cap of 100 forces BOTH phases through the valve
    val df = spark.range(200000L).select(
      (col("id") % 50000L).as("g"),
      (col("id") * 2654435761L % 1000003L).as("score"),
      col("id"))
    val ref = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("rn", row_number().over(
          Window.partitionBy(col("g"))
            .orderBy(col("score").desc, col("id"))))
        .filter(col("rn") <= 2).drop("rn")
        .collect().map(_.toSeq).toSet
    }
    val prev = spark.conf.getOption("spark.graft.topk.maxGroupsPerPartition")
    try {
      spark.conf.set("spark.graft.topk.maxGroupsPerPartition", "100")
      val valve = GroupedTopK(df, Seq("g"),
        Seq(col("score").desc, col("id").asc), 2)
        .collect().map(_.toSeq).toSet
      assert(valve == ref, "valve-engaged result must equal the window " +
        "reference")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.graft.topk.maxGroupsPerPartition", v)
        case None =>
          spark.conf.unset("spark.graft.topk.maxGroupsPerPartition")
      }
    }
  }

  test("all-identical corpus: single-pass exact dedup collapses 100k " +
    "copies to one survivor") {
    val df = spark.range(100000L)
      .select(col("id"), lit("the same document every time").as("text"))
    val survivors = Dedup.exact(df, Seq("text"), "id").collect()
    assert(survivors.length == 1)
    assert(survivors.head.getLong(0) == 0L, "min-id survivor")
  }

  test("ultra-hot shingle: the doc-frequency cap drops a shingle shared " +
    "by all 50k docs, and the planted pair still surfaces") {
    // every doc carries the hot phrase (6 tokens → shingles with df=50k);
    // per-doc unique tokens shingle at df=1; two planted twins share 40
    // distinctive tokens (df=2 — the only informative postings)
    val hot = "terms and conditions always apply here"
    val dup = (1 to 40).map(i => s"duptok$i").mkString(" ")
    val docs = spark.range(50000L).select(col("id"),
      concat(
        lit("u"), col("id"), lit("a u"), col("id"), lit("b u"),
        col("id"), lit("c "),
        when(col("id") < 2, lit(dup)).otherwise(lit(hot))).as("text"))
    // cap diagnostics see the hot shingles and their magnitude
    val stats = Dedup.shingleCapStats(docs, "id", "text", cap = 500)
      .collect().head
    assert(stats.getLong(1) >= 49998L, s"max_doc_freq=${stats.getLong(1)}")
    assert(stats.getLong(2) >= 1L, "at least one shingle over the cap")
    // with the cap ON the pair pass is bounded: postings for df>cap
    // shingles never materialize, and the result is exactly the planted
    // twin pair (the hot shingle alone would otherwise emit ~1.25e9 pairs)
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text",
        threshold = 0.8, maxDocFreq = Some(500))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
  }

  test("power-law vocabulary: the prefix filter stays lossless — " +
    "identical pair set to the uncapped exact path") {
    // zipf-ish tokens: rank = floor(u^2 * 60) concentrates mass on low
    // ranks (rank 0 ≈ 13% of all tokens) — hot shingles everywhere
    def tok(doc: Int, j: Int): String = {
      var z = doc.toLong * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL
      z ^= z >>> 27; z *= 0x94D049BB133111EBL; z ^= z >>> 31
      val u = ((z & 0x7FFFFFFFL).toDouble / Int.MaxValue)
      s"w${(u * u * 60).toInt}"
    }
    val texts = (0 until 1500).map { i =>
      val base = if (i >= 1000 && i < 1050)
        // planted near-dups of docs 0..49: same first 29 tokens
        (0 until 29).map(j => tok(i - 1000, j)) :+ "tail"
      else (0 until 30).map(j => tok(i, j))
      (i.toLong, base.mkString(" "))
    }
    val docs = texts.toDF("id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "id", "text",
      threshold = 0.8, maxDocFreq = None))
    val prefix = pairSet(Dedup.prefixJaccardPairs(docs, "id", "text",
      threshold = 0.8))
    assert(prefix == exact,
      s"prefix filter dropped/added pairs: ${prefix.diff(exact)} / " +
        s"${exact.diff(prefix)}")
    assert(exact.nonEmpty, "planted near-dups must actually pair")
  }

  test("union-find size gate: driver fast path and distributed " +
    "pointer-jumping loop label 100-node chains identically") {
    // 10k nodes in 100 chains of length 100 — pointer jumping needs
    // ~log2(100) ≈ 7 rounds; plain neighbor-min would need 99 and raise
    val pairs = spark.range(10000L)
      .filter(col("id") % 100 =!= 99)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = labelMap(Dedup.clusterLabels(pairs))
    val dist = labelMap(Dedup.clusterLabels(pairs, maxDriverEdges = 10L))
    assert(driver == dist)
    assert(driver.size == 10000)
    // canonical label = chain head
    assert((0 until 10000 by 100).forall(h =>
      driver(h.toLong + 57L) == h.toLong))
  }

  test("all-identical corpus: segmentDedup keeps exactly one copy of " +
    "every segment and cuts the other 49,999") {
    // 50k byte-identical docs of 3 segments each: the fingerprint table
    // collapses to 3 keys, the hot-fp join stays 1:N (canon side is ONE
    // row per key — never a pair blowup), and only doc 0 survives intact
    val df = spark.range(50000L).select(col("id").as("doc_id"),
      lit("a b c d e f g h i j k l").as("text"))
    val out = graft.operators.Dedup.segmentDedup(df, "doc_id", "text", 4)
    val agg = out.agg(
      sum(when(col("n_dup") === 0L, 1L).otherwise(0L)),
      sum(col("n_dup")),
      sum(when(col("clean_text") === "", 1L).otherwise(0L))).first()
    assert(agg.getLong(0) == 1L)           // only the min-id doc is clean
    assert(agg.getLong(1) == 3L * 49999L)  // every other segment cut
    assert(agg.getLong(2) == 49999L)       // later copies fully emptied
  }

  test("all-identical corpus: substringDedup keeps the min-id doc whole " +
    "and cuts every other doc as exactly ONE full-width span") {
    // 20k byte-identical 12-token docs at L=6: each window text occurs at
    // ONE position per doc, so canonicalization collapses to (doc 0, i)
    // for every gram; all other docs get one merged span [1, 12] built
    // from 12-6+1 = 7 duplicated windows. The hot md5 groups are 20k
    // occurrences each — the min-struct agg stays 1 row per key.
    val df = spark.range(20000L).select(col("id").as("doc_id"),
      lit("w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11").as("text"))
    val out = graft.operators.Dedup.substringDedup(df, "doc_id", "text", 6)
    val agg = out.agg(
      count(lit(1)), min(col("doc_id")), max(col("doc_id")),
      sum(when(col("span_start") === 1 && col("span_end") === 12 &&
        col("n_dup_windows") === 7, 1L).otherwise(0L))).first()
    assert(agg.getLong(0) == 19999L)  // one span row per later copy
    assert(agg.getLong(1) == 1L)      // doc 0 (canonical) emits nothing
    assert(agg.getLong(2) == 19999L)
    assert(agg.getLong(3) == 19999L)  // every span is the full document
  }

  test("ultra-hot DSIR bucket: one gram dominating the corpus still " +
    "yields a broadcastable ratio table bounded by the bucket count") {
    // 20k docs all repeating one gram + a unique tail token: the hot
    // bucket holds ~40k instances, but the ratio table stays <= buckets
    // rows (the broadcast contract) and weights remain finite
    val docs = spark.range(20000L).select(col("id").as("doc_id"),
      concat(lit("hot hot hot t"), col("id").cast("string")).as("text"))
    val tgt = docs.filter(col("doc_id") % 10L === 0L)
    val w = graft.operators.Curation.dsirWeights(
      docs, tgt, "doc_id", "text", buckets = 1024)
    val ratioRows = graft.operators.Curation.hashedGramBuckets(
      docs, "doc_id", col("text"), 1024)
      .select(col("bucket")).distinct().count()
    assert(ratioRows <= 1024L, "ratio table must stay bucket-bounded")
    val stats = w.agg(count(lit(1)),
      sum(when(col("logw").isNull || isnan(col("logw")), 1L)
        .otherwise(0L))).first()
    assert(stats.getLong(0) == 20000L)
    assert(stats.getLong(1) == 0L, "weights must stay finite under skew")
  }

  test("union-find string ids: driver and distributed paths agree on the " +
    "canonical label for all of Unicode (code-point order, not UTF-16)") {
    // U+E000 sorts AFTER the supplementary char U+10000 in UTF-16 code
    // units but BEFORE it in UTF-8/code-point order — the exact case
    // where java.lang.String.compareTo diverges from Spark's UTF8String
    val e000 = "\uE000doc"
    val supp = new String(Character.toChars(0x10000)) + "doc"
    val pairs = Seq((e000, supp), ("a", "b")).toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = labels(Dedup.clusterLabels(pairs))
    val dist = labels(Dedup.clusterLabels(pairs, maxDriverEdges = 0L))
    assert(driver == dist)
    // code-point min: U+E000 before U+10000
    assert(driver(supp) == e000 && driver(e000) == e000)
    assert(driver("b") == "a")
  }

  test("pathological repetition: phraseMatch on a 50k-token single-word " +
    "doc stays linear in the postings and counts every overlapping start") {
    val doc = Seq((1L, Seq.fill(50000)("a").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.Curation
      .phraseMatch(doc, "doc_id", "text", Seq("a", "a"))
      .collect()
    assert(got.length == 1 && got.head.getLong(1) == 49999L)
  }

  test("hub-and-spoke graph: pageRank on a 20k-node star (every node -> " +
    "one hub) concentrates rank without skew failure, mass conserved") {
    val nodes = spark.range(20000L).toDF("id")
    val edges = spark.range(1L, 20000L)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val ranks = graft.operators.Graph
      .pageRank(nodes, edges, "id", "src", "dst", iters = 3)
    val r = ranks.agg(sum(col("rank")), max(col("rank"))).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6, "mass conserved")
    val hub = ranks.filter(col("id") === 0L).head.getDouble(1)
    assert(hub == r.getDouble(1) && hub > 0.5,
      "the hot aggregation key IS the top-ranked node")
  }

  test("degenerate packing inputs: all items at capacity -> one bin " +
    "each; all items of size 1 -> near-perfect fill") {
    val cap = 128L
    val atCap = spark.range(500L).select(col("id"), lit(cap).as("len"))
    val packedCap = graft.operators.Scale
      .packBestFit(atCap, "id", "len", cap, buckets = 8)
    assert(packedCap.select(col("bin_id")).distinct().count() == 500L)
    val ones = spark.range(10000L).select(col("id"), lit(1L).as("len"))
    val packedOnes = graft.operators.Scale
      .packBestFit(ones, "id", "len", cap, buckets = 8)
    val loads = packedOnes.groupBy(col("bin_id"))
      .agg(sum(col("len")).as("load")).collect().map(_.getLong(1))
    assert(loads.forall(_ <= cap))
    // per bucket at most one partially-filled bin -> <= buckets slack
    assert(loads.length <= (10000L / cap).toInt + 8)
  }

  test("single dominating bigram: collocations under a hot key stay " +
    "correct (map-side combine, no skew failure) and rank the dominating " +
    "pair LOW on PMI") {
    // 2k docs of "x y x y ..." plus a handful of rare-pair docs
    val hot = (1L to 2000L).map(i => (i, Seq.fill(50)("x y").mkString(" ")))
    val rare = Seq((9001L, "alpha beta"), (9002L, "alpha beta"),
      (9003L, "alpha beta"), (9004L, "alpha beta"), (9005L, "alpha beta"))
    val docs = (hot ++ rare).toDF("doc_id", "text")
    val got = graft.operators.Curation
      .collocations(docs, "doc_id", "text", minCount = 5, k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    // the rare-but-exclusive pair carries the highest PMI; the dominating
    // (x,y) pair rides its own unigram frequencies and ranks below it
    assert(got.head._1 == "alpha" && got.head._2 == "beta")
    val xy = got.find(t => t._1 == "x" && t._2 == "y")
    assert(xy.isDefined && xy.get._3 < got.head._3)
  }
}
