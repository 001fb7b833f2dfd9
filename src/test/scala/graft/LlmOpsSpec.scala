package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.functions._

/** Planted-duplicate verification for the dedup/similarity operators whose
  * machinery has no SQL oracle (minhash/simhash/LSH/mapPartitions). */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank " +
    "while morning light rises slowly across the quiet valley floor"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                        // exact dup of 0
    (2L, base.replace("quick", "sly")),                // near dup of 0
    (3L, "completely different content about spark engines and " +
         "columnar execution with vectorized readers and shuffles"),
    (4L, "Unrelated Text! With Punctuation, and CASING differences."),
    (5L, "unrelated text with punctuation and casing differences"),
    (6L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per identical text") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(0L, 2L, 3L, 4L, 5L, 6L))
  }

  test("ngram jaccard finds exact and near dup pairs, not unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram doc-frequency cap drops hot-shingle pairs explicitly") {
    // every shingle in docs 0/1 is shared by >= 2 docs; cap=1 drops them all
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5, maxDocFreq = Some(1))
      .collect()
    assert(capped.isEmpty)
    // an uncapped (None) run restores the exact computation
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5, maxDocFreq = None)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((0L, 1L)))
    // the default cap (500) leaves natural-text results identical to exact
    val default = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default == uncapped)
  }

  test("prefix-filtered jaccard equals the exact uncapped computation") {
    // lossless-pruning contract: identical (pair, jaccard) set as the
    // exact posting-list computation, at several thresholds
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          threshold = t, maxDocFreq = None)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      val pref = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
          threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.rint(r.getDouble(2) * 1e9))).toSet
      assert(pref == exact, s"threshold $t")
    }
  }

  test("prefix-filtered jaccard at threshold 1.0 keeps exact duplicates") {
    val pairs = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
        threshold = 1.0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("winnowing: shared runs of w+k-1 tokens share a fingerprint") {
    val k = 4; val w = 5
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val wdocs = Seq(
      (10L, s"one two three $run four five six seven"),
      (11L, s"completely different prefix words here $run and a new tail"),
      (12L, "nothing in common with the others at all in this document " +
            "about gardening tools and winter weather patterns"),
      (13L, "tiny doc")                       // < k tokens -> no fingerprints
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(wdocs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    // guarantee: the 9-token (= w+k-1) shared run forces a common fingerprint
    assert((byDoc(10L) & byDoc(11L)).nonEmpty)
    assert((byDoc(10L) & byDoc(12L)).isEmpty)
    assert(!byDoc.contains(13L))
    // density: winnowing retains far fewer fingerprints than grams
    val nGrams10 = wdocs.filter($"doc_id" === 10L)
      .select(size(split(lower(trim($"text")), "\\s+"))).head().getInt(0) - k + 1
    assert(byDoc(10L).size < nGrams10)
  }

  test("winnowPairs finds near-dup docs and caps boilerplate fingerprints") {
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 3, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))        // exact dups share all fps
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
    // cap=1 treats every shared fingerprint as boilerplate -> no pairs
    val capped = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 3, w = 3, maxDocFreq = Some(1)).collect()
    assert(capped.isEmpty)
  }

  test("duplicate spans: cross-doc repeats merge into maximal spans") {
    val run = (1 to 12).map(i => s"tok$i").mkString(" ") // 12-token dup run
    val sdocs = Seq(
      (20L, s"aa bb cc $run dd ee ff"),
      (21L, s"xx yy $run zz ww"),
      (22L, "no duplicated content here beyond doubt in any of these words")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(sdocs, "doc_id", "text", L = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 20: run occupies tokens 4..15 -> one merged span exactly
    assert(spans.contains((20L, 4, 15)))
    // doc 21: run occupies tokens 3..14
    assert(spans.contains((21L, 3, 14)))
    assert(!spans.exists(_._1 == 22L))
  }

  test("duplicate spans: within-doc repetition is caught and merged") {
    val run = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((30L, s"$run filler $run"))  // 10 + 1 + 10 tokens
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", L = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((30L, 1, 10), (30L, 12, 21)))
  }

  test("removeSpans cuts duplicated regions and passes clean docs through") {
    val run = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (40L, s"$run filler $run"),             // both copies cut
      (41L, "a perfectly unique sentence with no repeats anywhere at all")
    ).toDF("doc_id", "text")
    val out = Dedup.removeSpans(d, "doc_id", "text",
        L = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(40L) == "filler")
    assert(out(41L) ==
      "a perfectly unique sentence with no repeats anywhere at all")
  }

  test("shingle cap truncation is visible via the stats diagnostic, and " +
    "the cap actually drops hot-shingle pairs") {
    // the visibility path for sizing a cap (inline observe() metrics were
    // dropped: AQE detaches CollectMetrics, and the shared posting-list
    // cache would hide them from the consuming query)
    val stats = Dedup.shingleCapStats(docs, "doc_id", "text", cap = 1)
      .collect().head
    assert(stats.getAs[Long]("distinct_shingles") > 0)
    assert(stats.getAs[Long]("max_doc_freq") >= 2) // docs 0/1 are identical
    assert(stats.getAs[Long]("shingles_over_cap") > 0)
    // and the cap=1 run really does lose the pairs the diagnostic predicts
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDocFreq = Some(1)).count()
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDocFreq = None).count()
    assert(capped < uncapped)
  }

  test("minhash LSH recalls the exact jaccard pairs on planted dups") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mh == exact) // verified candidates: no false positives, full recall
  }

  test("survivors: connected components keep exactly one doc per cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5)
    // driver-side union-find reference over the same (small) pair set
    val edges = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = allIds -- edges.flatMap(e => Seq(e._1, e._2))
      .filter(id => find(id) != id).toSet
    val kept = Dedup.survivors(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected)
    // sanity: clusters are non-trivial (0/1/2 collapse to 0)
    assert(!kept.contains(1L) && !kept.contains(2L) && kept.contains(0L))
  }

  test("clusterLabels converges on a long chain (pointer jumping)") {
    // a 40-node path graph: plain one-hop min propagation would need 39
    // iterations; pointer jumping must collapse it within the default cap.
    // maxDriverEdges = 0 FORCES the distributed loop — the default would
    // take the size-gated union-find fast path on a graph this small
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.clusterLabels(chain, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 40)
    assert(labels.values.forall(_ == 0L)) // one component, min id 0
    // two disjoint chains stay separate
    val two = chain.unionAll(
      (100L until 110L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    val l2 = Dedup.clusterLabels(two, maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 39L).forall(l2(_) == 0L))
    assert((100L to 110L).forall(l2(_) == 100L))
  }

  test("clusterLabels driver fast path equals the distributed loop") {
    val rnd = new scala.util.Random(55)
    // random graph with chains, triangles, singleton-free edge soup
    val pairs = ((0 until 120).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b) + 1)
    } ++ (200L until 210L).map(i => (i, i + 1)))
      .toDF("id_a", "id_b")
    val fast = Dedup.clusterLabels(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.clusterLabels(pairs, maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == dist)
  }

  test("simhash: identical texts collide, near dups within hamming 3") {
    val sim = Dedup.simhash(docs, "doc_id", "text")
    val m = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == m(1L))
    assert(java.lang.Long.bitCount(m(0L) ^ m(2L)) <= 8) // near dup: close
    assert(java.lang.Long.bitCount(m(0L) ^ m(3L)) > 10) // unrelated: far
    val pairs = Dedup.simhashPairs(sim, "doc_id")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("md5 fingerprint ignores case, punctuation and whitespace") {
    val same = Seq((0L, "alpha  beta   gamma"), (1L, "Alpha beta, gamma!"))
      .toDF("doc_id", "text")
      .select(TA.fingerprint($"text")).collect().map(_.getString(0))
    assert(same(0) == same(1))
  }

  test("langId picks marker language and zh via CJK codepoints") {
    val df = Seq(
      ("the cat sat on the mat and it was good for the dog", "en"),
      ("der hund ist nicht mit der katze und das haus", "de"),
      ("le chat est dans la maison et les chiens pour une vie", "fr"),
      ("el perro es un animal que vive para el gato del pueblo", "es"),
      ("你好世界", "zh"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
    val out = df.select(TA.langId($"text").as("got"), $"expected").collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(1)} got ${r.getString(0)}"))
  }

  test("ANN sign-bit LSH recalls planted high-cosine pairs") {
    val dim = 32
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    def perturb(v: Seq[Float]): Seq[Float] =
      v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val v0 = vec(); val v1 = vec()
    val rows = Seq(
      (0L, v0), (1L, perturb(v0)),         // planted pair ~cos 0.999
      (2L, v1), (3L, perturb(v1))) ++
      (4L to 40L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    val ann = Similarity.annPairs(emb, "vec_id", "embedding",
        threshold = 0.95, nPlanes = 12, tables = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.contains((0L, 1L)) && ann.contains((2L, 3L)))
    val exact = Similarity.exactPairs(emb, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(exact)) // re-scored: no false positives
  }

  test("IVF index: assignment contract, exact at full probe, partial recall") {
    val dim = 16
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val emb = (0L to 120L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q"))
    val corpus = emb.filter($"vec_id" =!= 0)

    val idx = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nlist = 8, iters = 2, seed = 5L)
    assert(idx.centroids.length == 8)
    val clusters = idx.assignments.select("cluster").distinct()
      .collect().map(_.getInt(0))
    assert(clusters.forall(c => c >= 0 && c < 8))
    // every corpus row keeps exactly one assignment
    assert(idx.assignments.count() == corpus.count())

    val exact = Similarity.topKForQuery(corpus, "vec_id", "embedding",
      q, "q", 10).collect().map(_.getLong(0)).toSeq
    // nprobe = nlist degrades to exact brute force, same ordering
    val full = Similarity.ivfTopKForQuery(idx, "vec_id", "embedding",
      q, "q", 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    assert(full == exact)
    // partial probe: a cluster-pruned subset of the exact ranking with
    // useful recall (deterministic under the fixed seed)
    val probed = Similarity.ivfTopKForQuery(idx, "vec_id", "embedding",
      q, "q", 10, nprobe = 4).collect().map(_.getLong(0)).toSet
    assert(probed.intersect(exact.toSet).size >= 3)
  }

  test("brute-force topK returns self-similar ordering") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q"))
    val out = Similarity.topKForQuery(emb.filter($"vec_id" =!= 0),
      "vec_id", "embedding", q, "q", 2).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("multimodal: schema contract, batched real decode, frame sampling") {
    val media = Multimodal.syntheticMedia(docs, "text")
    assert(media.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val metaFields = media.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => (f.name, f.dataType))
    assert(metaFields.toSeq ==
      Multimodal.mediaMetaType.fields.map(f => (f.name, f.dataType)).toSeq)

    // real decode: per-doc gradient PNGs keyed off doc_id (docs 0 and 1
    // get identical params → identical payloads → identical features)
    import org.apache.spark.sql.functions.{col, pmod, lit, udf}
    val mkPng = udf((id: Long) => {
      val p = if (id <= 1) 0 else id.toInt
      graft.expressions.MediaHeaders.buildPngGradient(
        p % 20 + 16, p % 12 + 16, p % 5 + 1, p % 3 + 1, p % 200)
    })
    val imgs = docs.select(col("doc_id"), mkPng(col("doc_id")).as("content"))
    val feats = Multimodal.extractFeatures(imgs, "doc_id", "content", dim = 8)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.getSeq[Float](1).length == 8))
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId(0L) == byId(1L))
    assert(byId(0L) != byId(3L))

    val frames = Multimodal.sampleFrames(media, "doc_id", "content")
    assert(frames.count() == docs.count() * 4)
    assert(frames.columns.toSet ==
      Set("doc_id", "frame_ix", "frame_bytes"))

    val resized = Multimodal.resize(media, "content", "meta", 16, 2)
    val r0 = resized.filter($"doc_id" === 0).select("meta.width",
      "meta.height").collect().head
    assert(r0.getInt(0) == 16 && r0.getInt(1) == 2)
  }

  test("quality score separates real sentences from junk") {
    val good = Seq(("a", base)).toDF("id", "text")
      .select(TA.qualityScore($"text")).collect().head.getDouble(0)
    val junk = Seq(("b", "!!! ??? ... ;;; ###")).toDF("id", "text")
      .select(TA.qualityScore($"text")).collect().head.getDouble(0)
    assert(good >= 3.0)
    assert(junk <= 1.0)
  }

  test("clusterPairs: no false positives; multi-probe recall dominates") {
    val dim = 16
    val rnd = new scala.util.Random(23)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    // planted near-dup pairs: each base vector plus a tiny perturbation
    val bases = (0L until 40L).map(i => (i, vec()))
    val dups = bases.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val exact = Similarity.exactPairs(emb, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 10) // the planted pairs are in the exact set
    val idx = Similarity.ivfIndex(emb, "vec_id", "embedding",
      nlist = 6, iters = 2, seed = 9L)
    def found(probes: Int): Set[(Long, Long)] =
      Similarity.clusterPairs(idx, "vec_id", "embedding", 0.9, probes)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = found(1)
    val multi = found(3)
    assert(single.subsetOf(exact)) // exact re-score: no false positives
    assert(multi.subsetOf(exact))
    assert(single.subsetOf(multi)) // more probes never lose candidates
    // near-identical planted dups co-cluster: multi-probe finds them all
    assert(multi == exact)
  }

  test("knnGraph: exact mode matches an in-memory reference; blocked " +
    "mode ranks planted dups first") {
    val dim = 16
    val rnd = new scala.util.Random(47)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val bases = (0L until 30L).map(i => (i, vec()))
    val dups = bases.take(8).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val all = bases ++ dups
    val emb = all.toDF("vec_id", "embedding")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    val got = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (s, v) => s -> v.map(_._2).toSet }
    val byId = all.toMap
    all.foreach { case (src, v) =>
      val want = all.filter(_._1 != src)
        .map { case (d, w) => (d, cos(v, w)) }
        .sortBy { case (d, c) => (-c, d) }.take(3).map(_._1).toSet
      assert(got(src) == want, s"src=$src")
    }
    // blocked mode: each planted dup's top neighbor is its base
    val blocked = Similarity.knnGraph(emb, "vec_id", "embedding", k = 1,
        nlist = 5, probes = 3, seed = 9L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dups.foreach { case (d, _) =>
      assert(blocked(d) == d - 1000L, s"dup $d")
    }
  }

  test("semanticDedup: exact and IVF-blocked modes drop planted near-dups") {
    val dim = 16
    val rnd = new scala.util.Random(31)
    def vec(): Seq[Float] = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val bases = (0L until 40L).map(i => (i, vec()))
    val dups = bases.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val exactKept = Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.9, nlist = 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // every planted dup (id >= 1000) loses to its base's smaller id
    assert(exactKept == bases.map(_._1).toSet)
    // IVF-blocked mode (the scale path) agrees on this corpus
    val blockedKept = Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.9, nlist = 6, seed = 9L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(blockedKept == exactKept)
  }

  test("survivorsKeepBest keeps the argmax per cluster, singletons pass") {
    // docs 0,1,2 cluster (exact + near dup); 3..6 singleton-ish
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      threshold = 0.5)
    val withLen = docs.withColumn("len", length(col("text")))
    val kept = Dedup.survivorsKeepBest(withLen, pairs, "doc_id", col("len"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {0,1,2}: 0 and 1 are identical (length ties -> min id 0
    // wins over 1); doc 2 is SHORTER ("sly" for "quick") — so the longest
    // member is doc 0
    assert(kept.intersect(Set(0L, 1L, 2L)) == Set(0L))
    // min-id survivors agree here by accident of the tie — distinguish
    // with a better column that inverts the choice: prefer doc 2
    val biased = docs.withColumn("pref",
      when(col("doc_id") === 2, 100).otherwise(0))
    val kept2 = Dedup.survivorsKeepBest(biased, pairs, "doc_id",
      col("pref")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.intersect(Set(0L, 1L, 2L)) == Set(2L))
    // everything outside the cluster is untouched either way
    assert(kept.contains(3L) && kept2.contains(3L))
  }

  test("incrementalExact dedups within the batch, then against seen keys") {
    val batch = Seq((10L, "a"), (11L, "a"), (12L, "b"), (13L, "c"))
      .toDF("doc_id", "k")
    val seen = Seq(Tuple1("b"), Tuple1("b")).toDF("k")
    val out = Dedup.incrementalExact(batch, seen, Seq("k"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 11 loses within-batch to 10; 12 is already in the seen corpus
    assert(out.toSeq == Seq(10L, 13L))
    // an empty seen set degenerates to plain within-batch exact dedup
    val cold = Dedup.incrementalExact(batch, seen.limit(0), Seq("k"),
      "doc_id").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(cold.toSeq == Seq(10L, 12L, 13L))
  }

  test("bloomIncremental is row-identical to incrementalExact, even at " +
    "an adversarial 0.5 fpp, under forced codegen") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rnd = new scala.util.Random(41)
      // overlapping key spaces: ~half the batch keys were already seen
      val batch = (1 to 400).map(i => (i.toLong, s"k${rnd.nextInt(120)}"))
        .toDF("doc_id", "k")
      val seen = (1 to 200).map(_ => Tuple1(s"k${rnd.nextInt(60)}"))
        .toDF("k")
      val expected = Dedup.incrementalExact(batch, seen, Seq("k"), "doc_id")
        .select("doc_id", "k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // fpp 0.5 floods the verify branch with false positives — output
      // must not change by a single row
      val viaBloom = Dedup.bloomIncremental(batch, seen, "k", "doc_id",
          fpp = 0.5)
        .select("doc_id", "k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(viaBloom == expected)
      // long keys take the mightContainLong path
      val batchL = (1 to 300).map(i => (i.toLong, rnd.nextInt(90).toLong))
        .toDF("doc_id", "k")
      val seenL = (1 to 150).map(_ => Tuple1(rnd.nextInt(50).toLong))
        .toDF("k")
      val expL = Dedup.incrementalExact(batchL, seenL, Seq("k"), "doc_id")
        .select("doc_id", "k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotL = Dedup.bloomIncremental(batchL, seenL, "k", "doc_id",
          fpp = 0.3)
        .select("doc_id", "k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotL == expL)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("editDistancePairs verifies planted near-identical docs by " +
    "levenshtein and excludes unrelated ones") {
    val out = Dedup.editDistancePairs(docs, "doc_id", "text",
        n = 3, maxRel = 0.3, minCommon = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
    // 0=1 exactly (distance 0); 2 is one word off both (quick -> sly,
    // distance 5); everything else shares < 5 shingles with anything
    assert(out.map(p => (p._1, p._2)).toSeq ==
      Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(out.head._3 == 0)
    assert(out.forall(_._3 <= 5))
    // character-level semantics: scrambled word order blows the edit
    // budget even though the shingle-free Jaccard over WORDS would be 1.0
    val scrambled = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
            "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (21L, "upsilon tau sigma rho pi omicron xi nu mu lambda kappa " +
            "iota theta eta zeta epsilon delta gamma beta alpha")
    ).toDF("doc_id", "text")
    val sc = Dedup.editDistancePairs(scrambled, "doc_id", "text",
      n = 1, maxRel = 0.3, minCommon = 5).count()
    assert(sc == 0L)
  }

  test("editDistancePairs: empty when nothing shares a shingle; " +
    "incrementalExact: empty batch stays empty") {
    val disjoint = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five six")
    ).toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(disjoint, "doc_id", "text",
      n = 3, maxRel = 0.9, minCommon = 1).count() == 0L)
    val seen = Seq(Tuple1("x")).toDF("k")
    assert(Dedup.incrementalExact(
      Seq((1L, "x")).toDF("doc_id", "k").limit(0), seen,
      Seq("k"), "doc_id").count() == 0L)
  }

  test("labelCentroidStats broadcasts the centroids — the corpus is " +
    "never shuffled by label") {
    val emb = Seq((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val plan = Similarity.labelCentroidStats(emb, "vec_id", "embedding",
      "label").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"sort-merge crept in:\n$plan")
  }

  test("labelCentroidStats: hand-computable centroids, norms, purity") {
    val emb = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0),
      (2L, Seq(3f, 4f), 1)
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.labelCentroidStats(emb, "vec_id", "embedding",
        "label")
      .orderBy("label").collect()
    // label 0: centroid (0.5, 0.5), norm 1/sqrt(2); both members at 45°
    assert(rows(0).getInt(0) == 0 && rows(0).getLong(1) == 2L)
    assert(rows(0).getDouble(2) == 0.707107)
    assert(rows(0).getDouble(3) == 0.707107) // mean_cos
    assert(rows(0).getDouble(4) == 0.707107) // min_cos
    // label 1: a singleton IS its centroid — norm 5, cosine exactly 1
    assert(rows(1).getInt(0) == 1 && rows(1).getLong(1) == 1L)
    assert(rows(1).getDouble(2) == 5.0)
    assert(rows(1).getDouble(3) == 1.0)
    assert(rows(1).getDouble(4) == 1.0)
  }
}
