package graft

import graft.expressions.UnicodeNormalize
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.functions._

/** Round-6 curation operators: DSIR importance resampling, CCNet-style
  * segment dedup, Unicode normalization, snapshot diff. */
class SelectionSpec extends SparkSpec {
  import spark.implicits._

  // ---- UnicodeNormalize --------------------------------------------------

  test("NFC composes decomposed accents; idempotent on composed input") {
    val df = Seq("cafe\u0301", "caf\u00e9", "A\u0300", "plain").toDF("s")
    val out = df.select(UnicodeNormalize.nfc(col("s")).as("n"))
      .as[String].collect()
    assert(out.toSeq == Seq("caf\u00e9", "caf\u00e9", "\u00c0", "plain"))
  }

  test("NFKC folds fullwidth, double-struck, and ligature forms") {
    val df = Seq("\uFF21\uFF01", "\u2102", "\uFB00", "\uFF15").toDF("s")
    val out = df.select(UnicodeNormalize.nfkc(col("s")).as("n"))
      .as[String].collect()
    assert(out.toSeq == Seq("A!", "C", "ff", "5"))
  }

  test("UnicodeNormalize propagates null and rejects non-string input") {
    val out = Seq[(Integer, String)]((1, null)).toDF("i", "s")
      .select(UnicodeNormalize.nfc(col("s"))).collect()
    assert(out.head.isNullAt(0))
    intercept[Exception] {
      Seq(1).toDF("i").select(UnicodeNormalize.nfc(col("i"))).collect()
    }
  }

  test("cleanText strips control chars and collapses whitespace") {
    val df = Seq("a\tb  c ", " \t ", "ok").toDF("s")
    val out = df.select(Curation.cleanText(col("s")).as("c"))
      .as[String].collect()
    assert(out.toSeq == Seq("a b c", "", "ok"))
  }

  // ---- segmentDedup ------------------------------------------------------

  test("segmentDedup keeps the corpus-wide first occurrence of a segment") {
    // 4-word segments; docs 1 and 2 share an identical first segment,
    // doc 3 repeats its own first segment later (within-doc dup)
    val df = Seq(
      (1L, "a b c d e f"),          // segs: [a b c d], [e f]
      (2L, "a b c d x y"),          // first seg duplicates doc 1's
      (3L, "p q r s p q r s")       // second seg duplicates its own first
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", 4)
      .orderBy("doc_id")
      .select("doc_id", "n_seg", "n_dup", "clean_text")
      .as[(Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 2L, 0L, "a b c d e f")))
    assert(out(1) == ((2L, 2L, 1L, "x y")))
    assert(out(2) == ((3L, 2L, 1L, "p q r s")))
  }

  test("substringDedup flags an UNALIGNED copy as one exact span, " +
    "keeps the donor, and merges within-doc repeats") {
    // 26 unique tokens t0..t25 in the donor; doc 2 copies donor tokens
    // t5..t24 (a 20-token run) at an UNALIGNED offset after a 3-token
    // preamble; window length L = 6.
    val donor = (0 until 26).map(i => s"t$i").mkString(" ")
    val copied = (5 until 25).map(i => s"t$i").mkString(" ") // 20 tokens
    val df = Seq(
      (1L, donor),
      (2L, s"x1 x2 x3 $copied z1 z2"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8")  // unique — no spans
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", L = 6)
      .select(col("doc_id"), col("span_start").cast("long"),
        col("span_end").cast("long"), col("n_dup_windows"))
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect()
    // the donor keeps everything (first occurrence); doc 2's copied run
    // spans tokens 4..23 (1-based, after the 3-token preamble), covered
    // by 20 - 6 + 1 = 15 duplicated windows merged into ONE span
    assert(out.toSeq == Seq((2L, 4L, 23L, 15L)))
    // keep-first is corpus-wide: swapping ids moves the cut to doc 11
    val swapped = Seq((10L, s"x1 x2 x3 $copied z1 z2"), (11L, donor))
      .toDF("doc_id", "text")
    val out2 = Dedup.substringDedup(swapped, "doc_id", "text", L = 6)
      .select(col("doc_id"), col("span_start").cast("long"),
        col("span_end").cast("long"), col("n_dup_windows"))
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect()
    assert(out2.toSeq == Seq((11L, 6L, 25L, 15L)))
  }

  test("segmentDedup dup_ratio is exact and zero for unique docs") {
    val df = Seq((1L, "u v w x"), (2L, "m n o p")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", 2)
      .select("dup_ratio").as[Double].collect()
    assert(out.forall(_ == 0.0))
  }

  // ---- canonicalizeUrl ---------------------------------------------------

  test("canonicalizeUrl: case, port, tracking, fragment, trailing slash") {
    val cases = Seq(
      "HTTP://Example.COM:80/Path/" -> "http://example.com/Path",
      "https://a.b:443/x?utm_source=s&id=3#f" -> "https://a.b/x?id=3",
      "http://h/p?utm_a=1&utm_b=2" -> "http://h/p",
      "http://h/p?id=1&fbclid=xyz&q=2" -> "http://h/p?id=1&q=2",
      "http://h/p?gclid=only" -> "http://h/p",
      "http://CASE.host/UPPER?Q=Keep" -> "http://case.host/UPPER?Q=Keep",
      "http://h:8080/p" -> "http://h:8080/p", // non-default port kept
      // path-less URL: query stays OUT of the lowercased authority
      "http://Host.com?Token=AbC" -> "http://host.com?Token=AbC",
      // ':443' inside a query VALUE is content, not a port
      "http://h/redir?to=https://x:443/y" -> "http://h/redir?to=https://x:443/y")
    val df = cases.map(_._1).toDF("u")
    val got = df.select(
        graft.operators.TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }

  test("segmentDedup equals an in-memory reference on random colliding " +
    "corpora") {
    val rnd = new scala.util.Random(4242)
    val vocab = Array("a", "b", "c")
    (1 to 3).foreach { _ =>
      val docs = (0 until 40).map(i => (i.toLong,
        Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(3))).mkString(" ")))
      val segW = 2
      // reference: global (doc, seg) order, first occurrence of each
      // segment text survives
      val segs = docs.flatMap { case (id, t) =>
        t.split(" ").grouped(segW).zipWithIndex
          .map { case (w, ix) => (id, ix.toLong, w.mkString(" ")) } }
      val seen = scala.collection.mutable.Set.empty[String]
      val keptSet = segs.sortBy(s => (s._1, s._2))
        .filter(s => seen.add(s._3)).map(s => (s._1, s._2)).toSet
      val expected = segs.groupBy(_._1).map { case (id, ss) =>
        val kept = ss.filter(s => keptSet((s._1, s._2)))
        (id, (ss.size.toLong, (ss.size - kept.size).toLong,
          kept.sortBy(_._2).map(_._3).mkString(" ")))
      }
      val got = graft.operators.Dedup.segmentDedup(
          docs.toDF("doc_id", "text"), "doc_id", "text", segW)
        .select("doc_id", "n_seg", "n_dup", "clean_text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => (r._1, (r._2, r._3, r._4))).toMap
      assert(got == expected)
    }
  }

  // ---- DSIR --------------------------------------------------------------

  test("hashedGramBuckets emits 2n-1 grams per doc, all within range") {
    val df = Seq((1L, "w1 w2 w3"), (2L, "solo")).toDF("doc_id", "text")
    val g = Curation.hashedGramBuckets(df, "doc_id", col("text"), 64)
    val perDoc = g.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(perDoc(1L) == 5L) // 3 unigrams + 2 bigrams
    assert(perDoc(2L) == 1L)
    val range = g.agg(min("bucket"), max("bucket")).first()
    assert(range.getLong(0) >= 0L && range.getLong(1) < 64L)
  }

  test("dsirSelect prefers docs that look like the target distribution") {
    // target-like docs repeat the gram 'quality data'; noise docs don't
    val docs = ((1 to 20).map(i => (i.toLong, "quality data " * 5 + s"t$i",
        if (i <= 10) "tgt" else "raw")) ++
      (21 to 40).map(i => (i.toLong, s"noise junk filler n$i x$i y$i",
        "raw"))).toDF("doc_id", "text", "kind")
    val sel = Curation.dsirSelect(docs, docs.filter(col("kind") === "tgt"),
        "doc_id", "text", buckets = 512, k = 15, tau = 0.25,
        salt = "spec:")
      .select("doc_id").as[Long].collect().toSet
    // at low temperature the 20 target-like docs dominate the selection
    assert(sel.count(_ <= 20L) >= 12)
  }

  test("dsirWeights: target-like docs carry higher importance weight") {
    val docs = Seq(
      (1L, "good clean prose", "t"), (2L, "good clean prose", "t"),
      (3L, "good clean prose", "r"), (4L, "zz yy xx ww", "r"))
      .toDF("doc_id", "text", "kind")
    val w = Curation.dsirWeights(docs,
        docs.filter(col("kind") === "t"), "doc_id", "text", 256)
      .as[(Long, Double, Long)].collect()
      .map { case (k, lw, _) => (k, lw) }.toMap
    assert(w(3L) > w(4L)) // matches target grams → higher logw
  }

  // ---- hardNegatives -----------------------------------------------------

  test("hardNegatives: separated clusters give positive margin; the " +
    "boundary anchor gives the smallest") {
    // two tight 2-D clusters; anchor 5 sits between them (labeled 0)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.05f, 0.95f), 1),
      (5L, Array(0.72f, 0.69f), 0)).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.hardNegatives(
        vecs, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // core anchors: positive margin (own cluster closer than the other)
    assert(out(1L)._3 > 0 && out(3L)._3 > 0)
    // every anchor sees both labels among its 4 neighbors
    assert(out.values.forall(v => v._4 >= 1 && v._4 <= 4))
    // the planted boundary anchor has the smallest margin of label-0 rows
    assert(out(5L)._3 < out(1L)._3 && out(5L)._3 < out(2L)._3)
  }

  test("hardNegatives: single-label neighborhood yields null negative") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.8f, 0.2f), 0)).toDF("vec_id", "embedding", "label")
    val rows = graft.operators.Similarity.hardNegatives(
        vecs, "vec_id", "embedding", "label", k = 2).collect()
    assert(rows.forall(r => r.isNullAt(2) && r.isNullAt(3)))
    assert(rows.forall(r => r.getLong(4) == 0L))
  }

  // ---- logistic quality classifier ---------------------------------------

  test("logisticScore: sigmoid identities hold") {
    val df = Seq((0.0, 0.0), (10.0, -10.0)).toDF("f1", "f2")
    val got = df.select(graft.operators.Curation.logisticScore(
        Seq(col("f1"), col("f2")), Seq(1.0, 1.0), bias = 0.0).as("p"))
      .as[Double].collect()
    assert(math.abs(got(0) - 0.5) < 1e-12) // sigmoid(0)
    assert(math.abs(got(1) - 0.5) < 1e-12) // f1 + f2 = 0
  }

  // ---- Kneser–Ney --------------------------------------------------------

  test("bigramKneserNey matches the hand-computed value on a tiny corpus") {
    // "a b a b a c": c(ab)=2 c(ba)=2 c(ac)=1; ctx a:(cw=3,nf=2)
    // b:(cw=2,nf=1); cont a/b/c each np=1; B=3
    // P(b|a)=1.25/3+0.75*2/3*(1/3)=0.583333…; P(a|b)=0.625+0.125=0.75;
    // P(c|a)=0.25/3+0.75*2/3*(1/3)=0.25
    // avg = (2·ln0.58333+2·ln0.75+ln0.25)/5 = -0.607930…
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = graft.operators.Curation.bigramKneserNey(df, "doc_id", "text")
      .select("avg_logprob", "n_bigrams").as[(Double, Long)].head()
    assert(r._2 == 5L)
    assert(math.abs(r._1 - (-0.6079304)) < 1e-6, s"got ${r._1}")
  }

  // ---- bitextMine --------------------------------------------------------

  test("bitextMine: planted translation pair is mutual-best with the " +
    "highest margin") {
    // left 1 and right 101 are near-identical; everything else is spread
    val left = Seq(
      (1L, Array(1.0f, 0.02f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.3f)),
      (3L, Array(0.3f, 0.1f, 1.0f))).toDF("vec_id", "embedding")
    val right = Seq(
      (101L, Array(1.0f, 0.0f, 0.02f)), (102L, Array(0.1f, 0.9f, 0.5f)),
      (103L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.bitextMine(
        left, right, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 == 101L && out(1L)._3,
      s"planted pair must be mutual-best: $out")
    assert(out(1L)._2 >= out(2L)._2 && out(1L)._2 >= out(3L)._2,
      s"planted pair must carry the top margin: $out")
  }

  // ---- snapshotDiff ------------------------------------------------------

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "fpA"), (2L, "fpB"), (3L, "fpC")).toDF("id", "fp")
    val neu = Seq((2L, "fpB"), (3L, "fpC2"), (4L, "fpD")).toDF("id", "fp")
    val out = Curation.snapshotDiff(old, neu, "id", "fp")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }
}
