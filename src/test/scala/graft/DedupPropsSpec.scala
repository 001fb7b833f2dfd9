package graft

import graft.operators.Dedup
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the dedup family: random small-vocabulary corpora
  * (where n-gram collisions are common — the adversarial case for pruning)
  * vs independent in-memory (plain Scala) references. Raw scalacheck
  * generators with fixed seeds, as in PropertiesSpec. */
class DedupPropsSpec extends SparkSpec {
  import spark.implicits._

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g(Gen.Parameters.default, Seed(7042L + i)))

  // small vocabulary -> heavy shingle sharing across random docs
  private val word: Gen[String] = Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
  private val genDoc: Gen[String] =
    Gen.chooseNum(0, 18).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val genCorpus: Gen[List[String]] =
    Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, genDoc))

  private def shingleSet(text: String, n: Int): Set[Seq[String]] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    if (toks.length < n) Set.empty
    else toks.sliding(n).map(_.toSeq).toSet
  }

  test("prefixJaccardPairs equals the in-memory exact pairs on random corpora") {
    cases(genCorpus, 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (t <- Seq(0.4, 0.7, 0.9)) {
        val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val sets = docs.map(shingleSet(_, 3))
        val want = (for {
          a <- docs.indices; b <- docs.indices if a < b
          sa = sets(a); sb = sets(b)
          inter = (sa & sb).size
          if sa.nonEmpty && sb.nonEmpty
          j = inter.toDouble / (sa.size + sb.size - inter)
          if j >= t
        } yield (a.toLong, b.toLong)).toSet
        assert(got == want, s"threshold=$t docs=$docs")
      }
    }
  }

  test("tfidfCosinePairsPrefix equals tfidfCosinePairs on random corpora " +
    "(prefix candidate generation is lossless, scoring byte-identical)") {
    cases(genCorpus, 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.5, 0.8)) {
        graft.engine.QueryProfile.cold(spark)
        val plain = Dedup.tfidfCosinePairs(df, "doc_id", "text", 3, t)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        graft.engine.QueryProfile.cold(spark)
        val pref = Dedup.tfidfCosinePairsPrefix(df, "doc_id", "text", 3, t)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(pref == plain, s"threshold=$t docs=$docs")
      }
    }
  }

  test("duplicateSpans matches an in-memory islands reference on random corpora") {
    val L = 4
    cases(genCorpus, 6).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.duplicateSpans(df, "doc_id", "text", L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      // reference: gram occurrence counts over the whole corpus, then
      // per-doc merge of overlapping-or-adjacent duplicated gram intervals
      val toksOf = docs.map(
        _.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      val occ = toksOf.flatMap(ts =>
        if (ts.length < L) Nil else ts.sliding(L).map(_.toSeq).toList)
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val want = toksOf.zipWithIndex.flatMap { case (ts, d) =>
        val pos =
          if (ts.length < L) Nil
          else ts.sliding(L).zipWithIndex.toList
            .filter { case (g, _) => occ(g.toSeq) >= 2 }
            .map { case (_, i0) => (i0 + 1, i0 + L) } // 1-based incl.
        // islands merge
        val merged = pos.foldLeft(List.empty[(Int, Int)]) {
          case (Nil, iv) => iv :: Nil
          case ((s, e) :: rest, (s2, e2)) =>
            if (s2 <= e + 1) (s, math.max(e, e2)) :: rest
            else (s2, e2) :: (s, e) :: rest
        }.reverse
        merged.map { case (s, e) => (d.toLong, s, e) }
      }.toSet
      assert(got == want, s"docs=$docs")
    }
  }

  test("winnowing guarantee: shared runs >= w+k-1 tokens share a fingerprint") {
    val k = 3; val w = 4
    val genPair: Gen[(String, String, String)] = for {
      run <- Gen.listOfN(k + w - 1, Gen.oneOf("r1", "r2", "r3", "r4",
        "r5", "r6", "r7", "r8", "r9"))
      pre1 <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, word))
      suf1 <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, word))
      pre2 <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, word))
      suf2 <- Gen.chooseNum(0, 6).flatMap(Gen.listOfN(_, word))
    } yield ((pre1 ++ run ++ suf1).mkString(" "),
             (pre2 ++ run ++ suf2).mkString(" "),
             run.mkString(" "))
    cases(genPair, 10).foreach { case (d1, d2, run) =>
      val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val byDoc = fps.groupBy(_._1)
        .map { case (d, v) => d -> v.map(_._2).toSet }
      assert((byDoc(1L) & byDoc(2L)).nonEmpty,
        s"no shared fingerprint for run '$run' in '$d1' / '$d2'")
    }
  }

  test("containmentPairs equals the in-memory directed reference") {
    cases(genCorpus, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.9)) {
        val got = Dedup.containmentPairs(df, "doc_id", "text", t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val sets = docs.map(shingleSet(_, 3))
        val want = (for {
          a <- docs.indices; b <- docs.indices if a != b
          sa = sets(a); sb = sets(b)
          if sa.nonEmpty
          c = (sa & sb).size.toDouble / sa.size
          if c >= t
        } yield (a.toLong, b.toLong)).toSet
        assert(got == want, s"threshold=$t docs=$docs")
      }
    }
  }

  test("noveltyScores equals the in-memory df=1 fraction") {
    cases(genCorpus, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.noveltyScores(df, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val sets = docs.map(shingleSet(_, 3))
      val dfreq = sets.flatten.groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val want = sets.zipWithIndex.collect {
        case (s, i) if s.nonEmpty =>
          i.toLong -> (s.size.toLong, s.count(dfreq(_) == 1).toLong)
      }.toMap
      assert(got == want, s"docs=$docs")
    }
  }

  test("editDistancePairs (minCommon=1) equals brute-force levenshtein " +
    "over shingle-sharing pairs") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    cases(genCorpus, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (rel <- Seq(0.2, 0.5)) {
        val got = Dedup.editDistancePairs(df, "doc_id", "text", 3, rel,
            minCommon = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSet
        val sets = docs.map(shingleSet(_, 3))
        val want = (for {
          a <- docs.indices; b <- docs.indices if a < b
          if (sets(a) & sets(b)).nonEmpty
          e = lev(docs(a), docs(b))
          if e <= rel * math.max(docs(a).length, docs(b).length)
        } yield (a.toLong, b.toLong, e)).toSet
        assert(got == want, s"rel=$rel docs=$docs")
      }
    }
  }

  test("incrementalExact == within-batch exact minus seen keys") {
    val genSplit: Gen[(List[String], List[String])] =
      for { a <- genCorpus; b <- genCorpus } yield (a, b)
    cases(genSplit, 6).foreach { case (seenDocs, batchDocs) =>
      val seen = seenDocs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val batch = batchDocs.zipWithIndex
        .map { case (t, i) => (1000L + i, t) }.toDF("doc_id", "text")
      val got = Dedup.incrementalExact(batch, seen, Seq("text"), "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val seenSet = seenDocs.toSet
      val want = batchDocs.zipWithIndex
        .groupBy(_._1).values
        .map(g => g.map(_._2).min + 1000L -> g.head._1)
        .collect { case (id, t) if !seenSet(t) => id }
        .toSet
      assert(got == want, s"seen=$seenDocs batch=$batchDocs")
    }
  }
}
