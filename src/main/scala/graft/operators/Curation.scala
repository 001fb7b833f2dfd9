package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * stratified sampling, PII redaction, Gopher-style repetition statistics,
  * and int8 embedding quantization.
  *
  * Scale design: sampling, redaction, and quantization are pure column
  * expressions — narrow map-side scans with zero shuffle at any corpus
  * size. Repetition stats shuffle once on (doc, token) with map-side
  * combine, then once on doc — both keys are high-cardinality and
  * skew-free by construction.
  */
object Curation {

  // ---- deterministic stratified sampling ---------------------------------

  /** 32-bit bucket of `id` under `salt`: the first 8 hex chars of
    * md5(salt || id) as a long in [0, 2^32). Content-deterministic —
    * re-running on any cluster layout, partitioning, or engine yields the
    * same sample (md5 is bit-stable everywhere, unlike engine-native
    * hashes), which is what makes train/eval splits reproducible. */
  def sampleBucket(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Per-stratum deterministic Bernoulli sample: keep a row iff its bucket
    * falls under floor(rate * 2^32) for its stratum's rate. A pure
    * map-side filter — no shuffle, no RNG state, no sample() nondeterminism.
    * Unlisted strata are dropped (rate 0). */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column,
                       rates: Map[String, Double], salt: String): DataFrame = {
    val bucket = sampleBucket(id, salt)
    val threshold = rates.foldLeft(lit(0L)) { case (acc, (s, r)) =>
      when(stratum === s, lit(thresholdFor(r))).otherwise(acc)
    }
    df.filter(bucket < threshold)
  }

  /** floor(rate * 2^32) as the bucket cutoff — exposed so oracle SQL can
    * embed the identical integer literal. */
  def thresholdFor(rate: Double): Long =
    math.floor(rate * 4294967296.0).toLong

  /** Exactly-k-per-stratum deterministic sample: the k rows with the
    * smallest md5 bucket (ties broken by id) in each stratum. Runs through
    * the GroupedTopK whole-operator — per-partition bounded heaps, no
    * stratum ever sorts — so a fixed-size eval split over a 100 TB corpus
    * costs one shuffle of ≤ k·mappers rows per stratum. */
  def stratifiedFixedSample(df: DataFrame, stratum: String, id: Column,
                            k: Int, salt: String): DataFrame =
    graft.plans.GroupedTopK(
        df.withColumn("__rk", sampleBucket(id, salt)),
        Seq(stratum), Seq(col("__rk").asc, id.asc), k)
      .drop("__rk")

  // ---- PII redaction ------------------------------------------------------

  /** Redaction patterns, written to the common subset of Java regex and
    * RE2 (character classes, bounded repetition, \b — no lookaround, no
    * backrefs) so any engine in the pipeline redacts identically. */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipPattern: String =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String =
    "\\+\\d{1,2}-\\d{3}-\\d{3,4}\\b"

  def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Chained redaction — email first (its charset overlaps neither of the
    * others), then IP, then phone. One codegen'd projection. */
  def redactPii(c: Column): Column = {
    val e = regexp_replace(c, emailPattern, "<EMAIL>")
    val i = regexp_replace(e, ipPattern, "<IP>")
    regexp_replace(i, phonePattern, "<PHONE>")
  }

  // ---- Gopher-style repetition statistics --------------------------------

  /** Per-document word-repetition profile: token count, distinct-token
    * count, the most frequent token (ties → lexicographically smallest)
    * and its count, plus the two ratio signals quality filters cut on
    * (top-token fraction ≈ "mode domination", distinct fraction ≈
    * vocabulary collapse). Ratios are raw IEEE divisions — deterministic
    * bit-for-bit on identical inputs. */
  def repetitionStats(df: DataFrame, docId: Column,
                      text: Column): DataFrame = {
    // explode_outer + attribute filter: see decontaminate — a plain
    // explode gets size/isnotnull filters inferred beneath it that
    // re-inline (and so re-evaluate) the tokenizer per row.
    val toks = df.select(docId.as("doc_id"),
        explode_outer(split(trim(text), "\\s+")).as("w"))
      .filter(col("w").isNotNull)
    val cnts = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = Window.partitionBy(col("doc_id"))
    cnts
      .withColumn("top_cnt", max(col("cnt")).over(perDoc))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("top_cnt")).as("top_cnt"),
        min(when(col("cnt") === col("top_cnt"), col("w"))).as("top_word"))
      .withColumn("top_frac",
        col("top_cnt").cast("double") / col("n_words"))
      .withColumn("distinct_frac",
        col("n_distinct").cast("double") / col("n_words"))
  }

  // ---- benchmark decontamination -----------------------------------------

  /** Adds a column `out` holding the token k-gram shingles of `text` as
    * strings, empty for documents shorter than k tokens. (The size guard
    * matters: sequence(1, n) DESCENDS for n < 1 instead of returning
    * empty.)
    *
    * DataFrame-shaped for the same reason as quantizeInt8: the token array
    * must be a bound column, not an expression the shingle lambda re-embeds
    * — inlined, the regex tokenizer re-runs for every shingle, turning an
    * O(tokens) scan into O(tokens²) per document (measured 2.6s → 0.3s at
    * sf0.1). */
  def withTokenShingles(df: DataFrame, text: Column, k: Int,
                        out: String): DataFrame = {
    val toks = col("__toks")
    df.withColumn("__toks", split(trim(text), "\\s+"))
      .withColumn(out,
        when(size(toks) >= k,
            transform(sequence(lit(1), size(toks) - lit(k - 1)),
              i => concat_ws(" ", slice(toks, i, lit(k)))))
          .otherwise(array().cast("array<string>")))
      .drop("__toks")
  }

  /** Benchmark decontamination: which training documents share at least one
    * token k-gram with the benchmark/eval corpus, and how many distinct
    * shingles leak. Returns (doc_id, n_shared) for contaminated docs only.
    *
    * Scale shape: eval corpora are orders of magnitude smaller than
    * training corpora, so the distinct benchmark-shingle side stays
    * broadcastable and the train side is a single narrow scan + explode
    * with no train-side shuffle before the (broadcast) join; the
    * count-distinct then aggregates per train doc. */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    docId: String, text: String, k: Int): DataFrame = {
    // explode_outer, NOT explode: for a plain explode the optimizer infers
    // `size(arrayExpr) > 0 AND isnotnull(arrayExpr)` filters below the
    // Generate, and predicate pushdown re-inlines the whole shingle
    // expression into them — evaluating the tokenizer pipeline ~3× per
    // document (measured 9s vs 1s at sf0.1). explode_outer admits no such
    // inference; the cheap attribute-level isNotNull restores inner
    // semantics.
    val benchShingles = withTokenShingles(bench, col(text), k, "__sh")
      .select(explode_outer(col("__sh")).as("sh"))
      .filter(col("sh").isNotNull).distinct()
    withTokenShingles(train, col(text), k, "__sh")
      .select(col(docId), explode_outer(col("__sh")).as("sh"))
      .filter(col("sh").isNotNull)
      .join(benchShingles, "sh")
      .groupBy(col(docId))
      .agg(count_distinct(col("sh")).as("n_shared"))
  }

  // ---- document chunking --------------------------------------------------

  /** Splits each document into fixed-size token windows with overlap
    * (context-window packing prep): chunk i covers tokens
    * [i·stride + 1, i·stride + chunkTokens], stride = chunkTokens − overlap,
    * the last chunk clamped to the document end. Pure map-side: stage the
    * token array, explode a chunk-index range, slice — no shuffle at any
    * corpus size. Returns (docId, chunk_ix, chunk_tokens, chunk_text).
    *
    * Chunk count = 1 + ceil(max(n − chunkTokens, 0) / stride), written in
    * integer arithmetic so any engine computes the identical count. */
  def chunkDocuments(df: DataFrame, docId: String, text: Column,
                     chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    val toks = col("__toks")
    df.withColumn("__toks", split(trim(text), "\\s+"))
      .withColumn("__nchunks",
        lit(1) + (greatest(size(toks) - lit(chunkTokens), lit(0))
          + lit(stride - 1)).cast("long") / lit(stride))
      .withColumn("chunk_ix",
        explode_outer(sequence(lit(0L), col("__nchunks").cast("long") - 1)))
      .filter(col("chunk_ix").isNotNull)
      .withColumn("chunk_text", concat_ws(" ",
        slice(toks, (col("chunk_ix") * stride + 1).cast("int"),
          lit(chunkTokens))))
      .withColumn("chunk_tokens",
        least(lit(chunkTokens),
          size(toks) - (col("chunk_ix") * stride).cast("int")).cast("long"))
      .select(col(docId), col("chunk_ix"), col("chunk_tokens"),
        col("chunk_text"))
  }

  // ---- BM25 retrieval scoring --------------------------------------------

  /** BM25 document scores for a fixed term set (Robertson/Lucene idf:
    * ln(1 + (N − df + ½)/(df + ½))). Distributed shape: one explode +
    * two partial-aggregated shuffles (per-doc tf, per-term df); the
    * query-term list and the two scalar aggregates (N, avg doc length)
    * broadcast. Scores are rounded to 6 decimals — ln differs by 1 ulp
    * across libm implementations — and must be ordered by the ROUNDED
    * value for cross-engine determinism. Uses the standard k1 = 1.2,
    * b = 0.75. */
  def bm25Scores(df: DataFrame, docId: String, text: Column,
                 terms: Seq[String]): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val toks = df.select(col(docId),
        explode_outer(split(trim(lower(text)), "\\s+")).as("term"))
      .filter(col("term").isNotNull)
    val docLen = toks.groupBy(col(docId))
      .agg(count(lit(1)).as("__len"))
    val stats = docLen.agg(
      count(lit(1)).cast("double").as("__n_docs"),
      avg(col("__len")).as("__avg_len"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col(docId), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    tf.join(dfreq, "term")
      .join(docLen, docId)
      .crossJoin(stats)
      .withColumn("__idf",
        log(lit(1.0) + (col("__n_docs") - col("__df") + 0.5)
          / (col("__df") + 0.5)))
      // same association order as the oracle SQL:
      // tf + k1 * ((1 − b) + (b·len)/avgLen)
      .withColumn("__contrib",
        col("__idf") * (col("__tf") * (k1 + 1)) /
          (col("__tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("__len") / col("__avg_len"))))
      .groupBy(col(docId))
      .agg(round(sum(col("__contrib")), 6).as("score"),
           count(lit(1)).as("n_terms"))
  }

  // ---- int8 embedding quantization ---------------------------------------

  /** Symmetric int8 quantization of a float-vector column: per-vector
    * scale = 127 / max|x| (1.0 for all-zero vectors), element q =
    * floor(x·scale + 0.5) ∈ [-127, 127]. `floor(+0.5)` is spelled out
    * instead of round() because engines disagree on round-half semantics
    * but all agree on floor. Adds (scale, quantized, max_err) columns —
    * 4× smaller vectors for ANN shortlisting, with the reconstruction
    * error bound max_err ≤ 1/(2·scale) to verify.
    *
    * Deliberately a DataFrame operator, not a single Column expression:
    * higher-order lambdas are evaluated interpreted, so a scale expression
    * nested inside the per-element lambdas would recompute the O(d)
    * array-max for every element — O(d²) per row (measured 9.3s → 0.6s at
    * sf0.1 on dim-64 vectors). Staged projections evaluate each
    * intermediate once per row; multi-referenced non-trivial aliases are
    * exactly what CollapseProject refuses to inline. */
  def quantizeInt8(df: DataFrame, vec: Column): DataFrame =
    df.withColumn("__dv", transform(vec, x => x.cast("double")))
      .withColumn("__mx", array_max(transform(col("__dv"), x => abs(x))))
      .withColumn("scale",
        when(col("__mx") === 0.0, lit(1.0))
          .otherwise(lit(127.0) / col("__mx")))
      .withColumn("quantized",
        transform(col("__dv"),
          x => floor(x * col("scale") + lit(0.5)).cast("int")))
      .withColumn("max_err",
        array_max(zip_with(col("__dv"), col("quantized"),
          (x, q) => abs(q.cast("double") / col("scale") - x))))
      .drop("__dv", "__mx")

  /** Deterministic multi-way dataset split (train/val/test…): each row gets
    * the label of the half-open bucket range its md5 bucket falls into,
    * with range widths proportional to `weights` (cumulative
    * floor(Σw·2^32) cutoffs — integer thresholds, so any engine computing
    * the same md5 assigns the same label). A pure map-side projection: no
    * shuffle, no RNG, re-runnable on any layout; weights are normalized so
    * every row is labeled. The label column is `split`. */
  def datasetSplit(df: DataFrame, id: Column,
                   weights: Seq[(String, Double)], salt: String): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be non-empty and positive")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(c => math.floor(c * 4294967296.0).toLong)
    val bucket = sampleBucket(id, salt)
    val label = weights.zipWithIndex.foldLeft(lit(weights.last._1)) {
      case (acc, ((name, _), i)) =>
        when(bucket >= cuts(i) && bucket < cuts(i + 1), lit(name))
          .otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** The integer cutoffs [[datasetSplit]] uses, for oracle SQL to embed. */
  def splitCuts(weights: Seq[(String, Double)]): Seq[Long] = {
    val total = weights.map(_._2).sum
    weights.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(c => math.floor(c * 4294967296.0).toLong)
  }

  // ---- corpus-adaptive LM scoring ----------------------------------------

  /** The add-α smoothing constant of the corpus language models
    * ([[unigramLogProb]], [[bigramLogProb]], [[perplexityBuckets]]):
    * add-one (Laplace) smoothing. */
  private val LmAlpha = 1.0

  /** Per-document average log-probability under an add-α smoothed unigram
    * language model trained on the corpus itself — the classic
    * perplexity-style quality/outlier signal (documents full of rare or
    * corrupted tokens score low; typical prose scores high) without any
    * external model artifact: p(w) = (c_w + α) / (N + α·V).
    *
    * Returns (id, avg_logprob, n_tok). Scale design: per-document term
    * frequencies aggregate FIRST (map-side combine), so the join against
    * the unigram table moves one row per distinct (doc, token) — not one
    * per occurrence — and the hot-stopword join skew is capped by each
    * document's distinct vocabulary; the model itself is two count
    * aggregates. Only the 2-row total/vocab aggregate is broadcast. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.select(col(idCol),
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w").isNotNull)
    val tf = toks.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
    val cnt = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    tf.join(cnt, "w")
      .crossJoin(broadcast(tot))
      .withColumn("lp",
        log((col("c") + lit(LmAlpha)) / (col("n") + lit(LmAlpha) * col("v"))))
      .groupBy(col(idCol))
      .agg((sum(col("tf") * col("lp")) / sum(col("tf"))).as("avg_logprob"),
        sum(col("tf")).as("n_tok"))
  }

  /** Per-document average conditional log-probability under an add-α
    * smoothed BIGRAM model of the corpus: p(w₂|w₁) = (c(w₁w₂) + α) /
    * (c(w₁) + α·V). Sharper than [[unigramLogProb]] at catching shuffled
    * or unnatural word order (unigram-typical tokens in atypical
    * sequence). Documents with fewer than 2 tokens produce no row. Same
    * scale shape: per-doc bigram frequencies aggregate before joining the
    * corpus bigram/unigram tables. */
  /** Shared bigram scaffolding for the bigram scorers: one tokenize +
    * per-doc lead pass; returns (tokens, per-doc bigram tf, corpus bigram
    * counts). Corpus counts DERIVE from the per-doc table — no second
    * window pass over the corpus. */
  private def bigramCounts(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // w =!= "" mirrors the sibling token ops (tokenEntropy, keywords,
    // corpusDivergence): an all-whitespace doc trims to "" and split
    // yields ONE empty token, which must not enter unigram totals or
    // bigram pairs. After trim, "" only occurs as that singleton, so
    // filtering before the lead() window cannot re-pair real tokens.
    val toks = df.select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("i", "w")))
      .filter(col("w").isNotNull && col("w") =!= "")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val bi = toks
      .withColumn("w2", lead(col("w"), 1).over(byPos))
      .filter(col("w2").isNotNull)
    val biTf = bi.groupBy(col(idCol), col("w"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val biCnt = biTf.groupBy(col("w"), col("w2"))
      .agg(sum(col("tf")).as("cb"))
    (toks, biTf, biCnt)
  }

  def bigramLogProb(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val (toks, biTf, biCnt) = bigramCounts(df, idCol, textCol)
    val uniCnt = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val vocab = uniCnt.agg(count(lit(1)).as("v"))
    biTf.join(biCnt, Seq("w", "w2"))
      .join(uniCnt, Seq("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp",
        log((col("cb") + lit(LmAlpha)) /
          (col("cu") + lit(LmAlpha) * col("v"))))
      .groupBy(col(idCol))
      .agg((sum(col("tf") * col("lp")) / sum(col("tf"))).as("avg_logprob"),
        sum(col("tf")).as("n_bigrams"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1999 formulation) — the fluency signal add-α smoothing
    * cannot give: the backoff mass goes to CONTINUATION probability (how
    * many distinct contexts a word follows), so function words stop
    * drowning out genuinely predictive bigrams.
    *   P(w2|w1) = max(c(w1w2)−d, 0)/c(w1·)
    *            + d·N1+(w1·)/c(w1·) · N1+(·w2)/B
    * with discount d = 0.75 (exactly representable in binary, so both
    * engines compute bit-identical discounted numerators; every other
    * input is an exact integer count). Per-doc tf-weighted avg ln P.
    *
    * Scale design: same shape as [[bigramLogProb]] — corpus collapses to
    * the bigram-type table; context/continuation statistics are two more
    * vocabulary-scale aggregations of it; the single corpus-scale join is
    * tf-aggregated per doc first (never per occurrence). */
  def bigramKneserNey(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val d = 0.75
    val (_, biTf, biCnt) = bigramCounts(df, idCol, textCol)
    val ctx = biCnt.groupBy(col("w"))
      .agg(sum(col("cb")).as("cw"), count(lit(1)).as("nf"))
    val cont = biCnt.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val types = biCnt.agg(count(lit(1)).as("b"))
    biTf.join(biCnt, Seq("w", "w2"))
      .join(ctx, Seq("w"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("lp", log(
        greatest(col("cb") - lit(d), lit(0.0)) / col("cw")
          + lit(d) * col("nf") / col("cw") * (col("np") / col("b"))))
      .groupBy(col(idCol))
      .agg((sum(col("tf") * col("lp")) / sum(col("tf"))).as("avg_logprob"),
        sum(col("tf")).as("n_bigrams"))
  }

  // ---- model-based quality filtering -------------------------------------

  /** Logistic quality score over handcrafted features with FIXED weights —
    * the scoring half of model-based filtering (FineWeb/DCLM-style
    * classifier filtering, distilled to a linear model over the same
    * feature battery the rule filters use). Pure column expression:
    * z folds left-to-right (bias + Σ wᵢ·fᵢ, the same association order an
    * oracle states), σ(z) = 1/(1+e^(−z)). */
  def logisticScore(features: Seq[Column], weights: Seq[Double],
                    bias: Double): Column = {
    require(features.size == weights.size,
      s"${features.size} features vs ${weights.size} weights")
    val z = features.zip(weights).foldLeft(lit(bias): Column) {
      case (acc, (f, w)) => acc + f * lit(w)
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Corpus collocations by pointwise mutual information — phrase mining
    * for vocabulary/tokenizer design and boilerplate discovery (a bigram
    * whose PMI is high is a unit; one that merely rides frequent unigrams
    * is not):
    *
    *   pmi(w1,w2) = ln[ (c12/B) / ((c1/T)·(c2/T)) ]
    *
    * with c12 the bigram count over the corpus stream, c1/c2 unigram
    * occurrence counts, B/T the bigram/token totals. `minCount` suppresses
    * the sparse-count PMI explosion (a hapax pair maximizes raw PMI).
    *
    * Scale: the corpus collapses to the bigram-type and vocabulary tables
    * (the [[bigramLogProb]] shape); totals are two broadcast 1-row
    * aggregates; the final top-k is a TakeOrderedAndProject. Emitted PMI
    * is round(6) and the ordering uses the ROUNDED value with a (w1, w2)
    * tie-break, so the selected set is engine-portable. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 5, k: Int = 50): DataFrame = {
    require(minCount >= 1 && k >= 1, s"bad minCount=$minCount / k=$k")
    val (toks, _, biCnt) = bigramCounts(df, idCol, textCol)
    val uni = Dedup.reuse(s"colloc:uni:$idCol:$textCol",
      toks.groupBy(col("w")).agg(count(lit(1)).as("cu")))
    val totT = uni.agg(sum(col("cu")).as("tt"))
    val totB = biCnt.agg(sum(col("cb")).as("tb"))
    biCnt.filter(col("cb") >= minCount)
      .join(uni.select(col("w"), col("cu").as("c1")), "w")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), "w2")
      .crossJoin(broadcast(totT))
      .crossJoin(broadcast(totB))
      .select(col("w").as("w1"), col("w2"), col("cb"),
        round(log((col("cb") / col("tb")) /
          ((col("c1") / col("tt")) * (col("c2") / col("tt")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Per-group corpus drift: KL(P_g ‖ Q) of each group's unigram
    * distribution against the corpus-wide distribution — the
    * domain-shift/source-skew dashboard metric (a source whose language
    * diverges from the pool surfaces with a large KL before any model
    * sees it). Every group term exists in the corpus by construction, so
    * no smoothing is needed and the sum is exact:
    *
    *   KL(P_g ‖ Q) = Σ_w (c_gw/T_g) · ln( (c_gw/T_g) / (C_w/T) )
    *
    * One token scan collapses to the (group, term, count) table (scoped-
    * cached — three aggregates consume it); per-term corpus counts,
    * per-group totals, and the 1-row corpus total are grouped sums of it.
    * Returns (`groupCol`, n_tokens, n_terms, kl); round on emit. */
  def corpusDivergence(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val gc = Dedup.reuse(s"kl:gc:$groupCol:$textCol",
      df.select(col(groupCol),
          explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c")))
    val termTot = gc.groupBy(col("w")).agg(sum(col("c")).as("ctot"))
    val grpTot = gc.groupBy(col(groupCol)).agg(sum(col("c")).as("tg"),
      count(lit(1)).as("n_terms"))
    val corpusTot = gc.agg(sum(col("c")).as("tt"))
    gc.join(termTot, "w")
      .join(grpTot, groupCol)
      .crossJoin(broadcast(corpusTot))
      .groupBy(col(groupCol))
      .agg(first(col("tg")).as("n_tokens"),
        first(col("n_terms")).as("n_terms"),
        sum((col("c") / col("tg")) *
          log((col("c") / col("tg")) / (col("ctot") / col("tt"))))
          .as("kl"))
  }

  /** Robust per-group outlier detection on the median/MAD scale (the
    * length/quality trimming pass a curation pipeline runs before
    * training): med = exact median of `valueCol` within each group,
    * mad = median absolute deviation, outlier ⇔ |v − med| > 2·mad.
    * Median/MAD instead of mean/σ because corpus length distributions are
    * heavy-tailed — a single 10 MB document would drag a z-score
    * threshold past every real outlier.
    *
    * Two grouped exact percentiles + two broadcastable per-group joins;
    * the deviation relation is computed once under the scoped cache. With
    * integer-valued inputs every med/mad is x.0 or x.5 — binary-exact —
    * so the 2·mad comparison is engine-portable without rounding. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    val dev = Dedup.reuse(s"outlier:dev:$groupCol:$valueCol",
      df.join(med, groupCol)
        .withColumn("__dev",
          abs(col(valueCol).cast("double") - col("__med"))))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(__dev, 0.5)").as("__mad"))
    dev.join(mad, groupCol)
      .withColumn("is_outlier", col("__dev") > lit(2.0) * col("__mad"))
      .withColumnRenamed("__med", "med")
      .withColumnRenamed("__mad", "mad")
      .drop("__dev")
  }

  /** Positional phrase search — the inverted-index formulation of exact
    * phrase matching (the search-infrastructure primitive BM25's
    * bag-of-words scoring cannot express): each phrase word's postings
    * (doc, position) are equi-joined on ALIGNED positions (word k joins at
    * position i − k), so a surviving (doc, p) row is a genuine occurrence
    * of the full phrase starting at p. Returns (`idCol`, n_matches) for
    * documents with ≥ 1 occurrence.
    *
    * Scale: one token-position scan, then per-word postings — each a
    * FILTERED (tiny) slice of the stream — joined on (doc, alignedPos);
    * all equi-joins, no windows, no quadratic stage. A pre-built
    * positional index table slots into the same join shape. */
  def phraseMatch(df: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val toks = df.select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("i", "w")))
      .filter(col("w").isNotNull)
    val first = toks.filter(col("w") === phrase.head)
      .select(col(idCol), col("i").as("p"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (w, k)) =>
        acc.join(toks.filter(col("w") === w)
          .select(col(idCol), (col("i") - k).as("p")), Seq(idCol, "p"))
      }
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /** Per-document token entropy — the vocabulary-diversity signal
    * (repetitive/boilerplate docs score low, natural prose high):
    * H = −Σ_w (tf/T)·ln(tf/T), computed in the algebraic form
    * ln T − (Σ tf·ln tf)/T so ONE grouped aggregation over the (doc,
    * term, tf) table suffices (no per-doc second pass for T). Returns
    * (`idCol`, n_tokens, n_terms, entropy); callers round on emit for
    * cross-engine hash stability. */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tf = df.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_terms"),
        sum(col("tf").cast("double") * log(col("tf"))).as("__stlt"))
      .select(col(idCol), col("n_tokens"), col("n_terms"),
        (log(col("n_tokens")) - col("__stlt") / col("n_tokens"))
          .as("entropy"))
  }

  /** Per-document keyword extraction: top-k terms by smoothed TF-IDF
    * (idf = ln((1+N)/(1+df)) + 1, the scikit-style smoothing that keeps
    * corpus-wide terms positive), k per doc via the GroupedTopK bounded
    * heap — no per-document sort, no window. idf and the score are
    * round(6) so ranking ties break identically on any engine (then term
    * asc). The tf table is computed once under the scoped cache (feeds
    * both the doc-frequency aggregate and the scoring join). */
  def keywords(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val tf = Dedup.reuse(s"kw:tf:$idCol:$textCol",
      df.select(col(idCol),
          explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("nd"))
    val scored = tf.join(dfreq, "w")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf",
        round(log((lit(1) + col("nd")) / (lit(1) + col("df"))) + 1, 6))
      .withColumn("score", round(col("tf") * col("idf"), 6))
    graft.plans.GroupedTopK(scored, Seq(idCol),
        Seq(col("score").desc, col("w").asc), k)
      .select(col(idCol), col("w").as("term"), col("tf"), col("score"))
  }

  // ---- domain-mixture balancing ------------------------------------------

  /** Rebalance a corpus to target group proportions ("data mixing"): given
    * target shares per group (summing to ~1), keep the LARGEST total T such
    * that every group g can supply its share — T = min_g(n_g / p_g) — and
    * select exactly k_g = floor(p_g · T) rows per group, deterministically
    * (smallest md5 buckets first, ties by id). The result has the target
    * mixture to within one row per group, maximizing retained data; no
    * group is oversampled (subsampling only, no repetition).
    *
    * Scale notes: quotas derive from one count-only aggregate crossed with
    * a one-row capacity aggregate (broadcast both); selection ranks within
    * each group — a per-group window sort, the exact-quota cost. When
    * approximate shares suffice at extreme scale, [[stratifiedSample]]
    * with rates p_g·T/n_g is the sort-free alternative. Groups absent from
    * `targets` are dropped. */
  def balanceMix(df: DataFrame, groupCol: String, id: Column,
                 targets: Map[String, Double], salt: String): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive shares")
    val share = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (g, p)) => when(col(groupCol) === g, lit(p)).otherwise(acc)
    }
    val inScope = df.filter(col(groupCol).isin(targets.keys.toSeq: _*))
    val counts = inScope.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_g"))
      .withColumn("p_g", share)
    val capacity = counts
      .agg(min(col("n_g").cast("double") / col("p_g")).as("t_total"))
    val quota = counts.crossJoin(broadcast(capacity))
      .withColumn("k_g", floor(col("p_g") * col("t_total")).cast("long"))
      .select(col(groupCol), col("k_g"))
    val byBucket = Window.partitionBy(col(groupCol))
      .orderBy(sampleBucket(id, salt), id)
    inScope.withColumn("__rn", row_number().over(byBucket))
      .join(broadcast(quota), groupCol)
      .filter(col("__rn") <= col("k_g"))
      .drop("__rn", "k_g")
  }

  // ---- Gopher-style heuristic filter battery ------------------------------

  /** Gopher-rule filter battery (Rae et al. 2021 §A1.1, adapted to the
    * signals computable without a tokenizer model): one row per document
    * with the raw signals, a 0/1 flag per rule, and the conjunction
    * verdict `keep`. Unlike [[graft.operators.TextAnalysis.qualityScore]]
    * (a single additive score for ranking), this is the REJECTION battery
    * a curation pipeline applies before dedup — each rule is independently
    * reportable, so corpus dashboards can attribute removal volume to
    * specific rules.
    *
    * Rules: word count in [10, 100000]; mean word length in
    * [3, 12] chars; ≥ 80% of words contain an alphabetic character;
    * symbol-to-word ratio ('#' or '…'/'...') ≤ 0.1; at least 2 distinct
    * English stopword hits (the duplicated-stopword guard against
    * keyword-stuffing pages).
    *
    * Scale design: ONE single-pass byte-scan kernel per row
    * ([[graft.expressions.GopherSignals]]) emits all five raw signals as
    * a struct — a narrow map-side scan, zero shuffle at any corpus size,
    * no token-array materialization, no per-token regex. (The previous
    * composed form — split + aggregate/filter HOFs + three splits +
    * regexp_extract_all — was the one map-side operator with a
    * super-linear 10× probe curve, 12.7×; the kernel is fuzz-proven
    * value-identical in GopherSignalsSpec.) All ratios are exact
    * integer-to-double divisions — bit-reproducible across engines. */
  def gopherFilters(df: DataFrame, docId: Column, text: Column): DataFrame = {
    val nWords = greatest(col("n_words"), lit(1)).cast("double")
    val flag = (c: Column) => when(c, 1).otherwise(0)
    df.select(docId.as("doc_id"), text.as("__t"))
      .withColumn("__sig", graft.expressions.GopherSignals(col("__t")))
      .withColumn("n_words", col("__sig.n_words"))
      .withColumn("mean_word_len",
        col("__sig.sum_word_len").cast("double") / nWords)
      .withColumn("alpha_frac",
        col("__sig.n_alpha").cast("double") / nWords)
      .withColumn("symbol_ratio",
        col("__sig.n_symbols").cast("double") / nWords)
      .withColumn("n_stop", col("__sig.n_stop"))
      .withColumn("g_words",
        flag(col("n_words").between(10, 100000)))
      .withColumn("g_mean_len",
        flag(col("mean_word_len").between(3.0, 12.0)))
      .withColumn("g_alpha", flag(col("alpha_frac") >= 0.8))
      .withColumn("g_symbol", flag(col("symbol_ratio") <= 0.1))
      .withColumn("g_stop", flag(col("n_stop") >= 2))
      .withColumn("keep", col("g_words") * col("g_mean_len") *
        col("g_alpha") * col("g_symbol") * col("g_stop"))
      .drop("__t", "__sig")
  }

  // ---- epoch shuffle (deterministic global permutation) ------------------

  /** Deterministic global shuffle order for training dataloaders: every row
    * gets `shuffle_pos` — its 1-based rank under the order
    * (md5(seed || ':' || id), id) — a reproducible pseudo-random
    * permutation keyed by `seed` (one seed per epoch).
    *
    * The rank is computed WITHOUT a single-partition global window: the
    * first two hex chars of the key split rows into 256 buckets whose
    * ranges follow the key order (hex prefix = most-significant bits), so
    * rank = (cumulative count of preceding buckets) + (row_number within
    * the bucket). The only unpartitioned window runs over the 256-row
    * bucket-count aggregate — fixed size at any data scale; within-bucket
    * ranking partitions on ~N/256 uniformly-hashed rows. */
  /** Temperature-flattened mixture sampling: group shares ∝ n_g^α — the
    * standard multilingual/multi-source rebalancing recipe (α < 1 upweights
    * small sources relative to natural sampling; α = 1 degenerates to
    * proportional, α → 0 to uniform). Each group contributes
    * k_g = min(n_g, floor(budget · n_g^α / Σ_h n_h^α)) rows, selected by
    * the same deterministic smallest-md5-bucket ranking as [[balanceMix]]
    * (re-runs and engines agree bit-for-bit; the float quota arithmetic is
    * IEEE-double on both sides, same determinism class as balanceMix).
    *
    * Scale: one count aggregation (map-side combined), a broadcast quota
    * join, and a per-group rank — no global sort, no driver material
    * beyond the (groups × 2) quota table. */
  def temperatureMix(df: DataFrame, groupCol: String, id: Column,
                     alpha: Double, totalBudget: Long,
                     salt: String): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be positive")
    require(totalBudget > 0, s"totalBudget=$totalBudget must be positive")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
      .withColumn("w_g", pow(col("n_g").cast("double"), lit(alpha)))
    val wTot = counts.agg(sum(col("w_g")).as("w_tot"))
    val quota = counts.crossJoin(broadcast(wTot))
      .withColumn("k_g", least(col("n_g"),
        floor(lit(totalBudget.toDouble) * col("w_g") / col("w_tot"))
          .cast("long")))
      .select(col(groupCol), col("k_g"))
    val byBucket = Window.partitionBy(col(groupCol))
      .orderBy(sampleBucket(id, salt), id)
    df.withColumn("__rn", row_number().over(byBucket))
      .join(broadcast(quota), groupCol)
      .filter(col("__rn") <= col("k_g"))
      .drop("__rn", "k_g")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES): each row draws the deterministic md5-uniform
    * u ∈ (0,1) of its id and keys on u^(1/w); the global top-k by key is a
    * weighted sample — inclusion probability rises with `weight`, no
    * sequential state. Deterministic by construction (no RNG), so engines
    * and re-runs agree exactly. The key rounds to 12 decimals BEFORE
    * ranking: pow is a transcendental that libm implementations only
    * guarantee to ~1 ulp, so ranking must see identical keys on every
    * engine (same discipline as [[perplexityBuckets]]'s rounded fluency);
    * the id tiebreak then pins ties deterministically.
    *
    * Scale: the top-k is a plain orderBy+limit, which Spark plans as
    * TakeOrderedAndProject — per-partition k-heaps then a k-merge, no
    * global sort of the corpus. `weight` must be strictly positive. */
  def weightedSample(df: DataFrame, id: Column, weight: Column, k: Int,
                     salt: String): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val u = (sampleBucket(id, salt).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    df.withColumn("__es_key", round(pow(u, lit(1.0) / weight), 12))
      .orderBy(col("__es_key").desc, id)
      .limit(k)
      .drop("__es_key")
  }

  /** Distributed BPE merge training (Sennrich et al., ACL 2016): the
    * classic byte-pair-encoding trainer re-expressed Spark-first. State is
    * the corpus WORD-FREQUENCY table (the original algorithm's working
    * set — corpus-scale text collapses to vocabulary-scale rows in one
    * aggregation), each word a symbol array starting as characters. Per
    * merge step: adjacent-pair frequencies via one map-side-combined
    * aggregation (zip_with over the symbol array, weighted by word
    * frequency), the argmax pair (ties: lexicographic — deterministic
    * across runs and engines) is ONE collected row, and the merge applies
    * distributively through the fused [[graft.expressions.BpeMerge]]
    * kernel. The evolving vocabulary persists per step (previous step
    * unpersisted) so iteration k never replays steps 1..k-1.
    *
    * 100 TB shape: one pass over the corpus builds the word-freq table;
    * every subsequent job touches only vocabulary-scale data. Driver
    * memory holds exactly `numMerges` merge rows. Stops early when the
    * best pair's frequency falls below `minPairFreq`.
    *
    * Returns the ordered merge table (step, left, right, pair_freq). */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               minPairFreq: Long = 2L): DataFrame = {
    require(numMerges > 0, s"numMerges=$numMerges must be positive")
    val spark = df.sparkSession
    val words = df.select(
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word").isNotNull && length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // "(?!^)" splits between every character without a leading empty token.
    // localCheckpoint (not persist): each step's plan must TRUNCATE at the
    // materialized vocabulary — a persist chain keeps the full logical
    // lineage, whose nested cached-plan rendering grows exponentially with
    // the step count (the same reason the connected-components loop
    // checkpoints per iteration).
    var syms = words
      // Spark's split keeps the trailing empty match (limit = -1) — drop it
      .select(col("freq"),
        array_remove(split(col("word"), "(?!^)"), "").as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val top = syms.filter(size(col("s")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getAs[Long]("pf") < minPairFreq) {
        done = true
      } else {
        val l = top(0).getAs[String]("l")
        val r = top(0).getAs[String]("r")
        merges += ((step, l, r, top(0).getAs[Long]("pf")))
        val mergedCol = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.expressions.BpeMerge(
            org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
              spark, syms("s")), l, r))
        syms = syms.select(col("freq"), mergedCol.as("s")).localCheckpoint()
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "left", "right", "pair_freq")
  }

  /** Encode with a trained merge list: per distinct WORD, characters fold
    * through the ordered merges (vocabulary-scale work, one [[BpeMerge]]
    * pass per merge), then documents re-assemble their subword stream by
    * joining words to the dictionary and sorting on word position —
    * corpus-scale work is one explode + one join + one bounded per-doc
    * sort, never per-merge. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    val positioned = df.select(col(idCol),
        posexplode_outer(split(lower(trim(col(textCol))), "\\s+"))
          .as(Seq("pos", "word")))
      .filter(col("word").isNotNull && length(col("word")) > 0)
    val vocab = positioned.select(col("word")).distinct()
      .withColumn("s", array_remove(split(col("word"), "(?!^)"), ""))
    val encoded = merges.foldLeft(vocab) { case (v, (l, r)) =>
      val m = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.BpeMerge(
          org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
            spark, v("s")), l, r))
      v.select(col("word"), m.as("s"))
    }
    positioned.join(encoded, "word")
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("s"))))
        .getField("s")).as("tokens"))
      .select(col(idCol), col("tokens"),
        size(col("tokens")).as("n_bpe_tokens"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    * train a smoothed unigram LM on a REFERENCE subset (`trainFilter` — the
    * clean-corpus side; CCNet uses Wikipedia), score every document by
    * per-token avg log-probability under that model (unseen words get the
    * α-smoothed floor, so out-of-domain text scores low), and split the
    * corpus into `buckets` fluency tiers — head/middle/tail for 3, the
    * shape downstream mixing weights consume.
    *
    * Determinism/scale contract: scores round to 6 decimals BEFORE ranking
    * (ln differs in last ulps across engines; ranking must see identical
    * keys), the global fluency rank runs through [[Scale.prefixSum]]'s
    * bucketed two-level form (no single-partition window — the classic
    * trap at corpus scale), and the tier is the explicit formula
    * 1 + (rank−1)·buckets div n, identical on any engine. The rank
    * surrogate `round(−fluency,6)·10¹² + id` preserves order because
    * rounded keys are ≥ 10⁻⁶ apart — 10⁶ id headroom per fluency value;
    * an in-query raise_error guard on max(id) enforces that bound rather
    * than letting the packing go silently wrong past it. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        trainFilter: Column, buckets: Int = 3): DataFrame = {
    require(buckets > 1, "buckets > 1 required")
    // ONE tokenization pass: the train-side counts derive from the same
    // (doc, word) term-frequency table via the per-doc train flag — the
    // corpus text is exploded and shuffled once, not once per model side
    val toks = df.select(col(idCol), trainFilter.as("__train"),
        explode_outer(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w").isNotNull && length(col("w")) > 0)
    // tf feeds both the train-side counts and the scoring join — persist
    val tf = Dedup.reuse(s"ppl:tf:$idCol:$textCol",
      toks.groupBy(col(idCol), col("w"))
        .agg(count(lit(1)).as("tf"), max(col("__train")).as("__train")))
    val cnt = tf.filter(col("__train"))
      .groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val tot = cnt.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    // scored is doc-level (narrow) but consumed four times downstream —
    // prefixSum's bounds/offsets/main passes plus the n_docs count; without
    // this persist each consumer re-aggregates the (doc, word) table
    val scored = Dedup.reuse(s"ppl:scored:$idCol:$textCol",
      tf.join(cnt, Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp", log(
          (coalesce(col("c"), lit(0L)) + lit(LmAlpha)) /
            (col("n") + lit(LmAlpha) * col("v"))))
        .groupBy(col(idCol))
        .agg(round(sum(col("tf") * col("lp")) / sum(col("tf")), 6)
          .as("fluency")))
    val ranked = Scale.prefixSum(scored,
      -col("fluency") * lit(1e12) + col(idCol), lit(1L), "rank")
    // the 1-row aggregate also carries max(id): the rank surrogate packs
    // (rounded fluency, id) into one double and only preserves order while
    // ids stay below the 1e6 headroom between adjacent rounded fluency
    // values — past that the packing is silently wrong, so the query FAILS
    // LOUDLY instead (the guard rides the bucket expression, which is in
    // the output and therefore never pruned)
    val n = scored.agg(count(lit(1)).as("n_docs"),
      max(col(idCol).cast("double")).as("max_id"))
    ranked.crossJoin(broadcast(n))
      // integer `div` (not `/`, which is a double division in Spark SQL)
      .withColumn("bucket",
        expr(s"""CASE WHEN max_id >= 1e6 THEN CAST(raise_error(
             |'perplexityBuckets: id exceeds the 1e6 rank-surrogate
             | headroom; rank on a composite key instead') AS BIGINT)
             |ELSE 1 + (rank - 1) * $buckets div n_docs END"""
          .stripMargin.replace("\n", "")))
      .select(col(idCol), col("fluency"), col("bucket"))
  }

  // ---- DSIR importance resampling ----------------------------------------

  /** Hashed n-gram feature stream (unigrams + bigrams, lowercased) bucketed
    * into `buckets` md5 buckets — the DSIR feature space (Xie et al.,
    * NeurIPS 2023: "Data Selection for Language Models via Importance
    * Resampling"). md5 rather than an engine-native hash so the feature
    * map is bit-identical across engines and re-runs.
    *
    * One narrow (id, bucket) row per gram instance, computed map-side.
    * The one possible shuffle is [[Scale.minParallel]]'s hash repartition
    * of the (id, text) input when it scans fewer partitions than the
    * session's default parallelism; at real scan parallelism there is
    * none. */
  def hashedGramBuckets(df: DataFrame, idCol: String, text: Column,
                        buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    // minParallel (r11): the md5-per-gram fan-out (~200 grams/doc) is
    // compute-amplified — a single-split corpus scan ran the whole 1M-md5
    // stream as one 1.2 s task at sf0.1. Hash-by-id keeps each doc's
    // grams co-located (per-doc sum order unchanged); no-op at scale.
    val in = Scale.minParallel(df.select(col(idCol), text.as("__t")), idCol)
    val w = split(lower(trim(col("__t"))), "\\s+")
    val tail = greatest(size(w) - 1, lit(0))
    val bi = zip_with(slice(w, lit(1), tail), slice(w, lit(2), tail),
      (a, b) => concat(a, lit(" "), b))
    in.select(col(idCol), explode(concat(w, bi)).as("__gram"))
      .select(col(idCol),
        pmod(conv(substring(md5(col("__gram")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("bucket"))
  }

  /** Per-document DSIR importance log-weight: Σ over the doc's hashed-gram
    * instances of ln p̂_target(b) − ln p̂_raw(b), both distributions add-1
    * smoothed over the `buckets`-bucket feature space. High weight = the
    * document looks like the target corpus.
    *
    * Scale design: the corpus collapses to TWO bucketed count tables
    * (≤ `buckets` rows each — vocabulary-scale, broadcastable), the
    * log-ratio table joins back to the gram stream as a broadcast, and the
    * per-doc sum is one map-side-combined aggregation. The gram stream is
    * produced once per input; nothing corpus-sized reaches the driver. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int): DataFrame = {
    val rawG = Dedup.reuse(s"dsir:raw:$buckets",
      hashedGramBuckets(raw, idCol, col(textCol), buckets))
    val tgtG = hashedGramBuckets(target, idCol, col(textCol), buckets)
    val rawCnt = rawG.groupBy(col("bucket")).agg(count(lit(1)).as("c_raw"))
    val tgtCnt = tgtG.groupBy(col("bucket")).agg(count(lit(1)).as("c_tgt"))
    val nRaw = rawCnt.agg(sum(col("c_raw")).as("n_raw"))
    val nTgt = tgtCnt.agg(sum(col("c_tgt")).as("n_tgt"))
    val b = lit(buckets.toDouble)
    val ratio = rawCnt.join(tgtCnt, Seq("bucket"), "left")
      .crossJoin(broadcast(nRaw)).crossJoin(broadcast(nTgt))
      .select(col("bucket"),
        (log((coalesce(col("c_tgt"), lit(0L)) + lit(1.0)) / (col("n_tgt") + b))
          - log((col("c_raw") + lit(1.0)) / (col("n_raw") + b))).as("__lr"))
    rawG.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("__lr")).as("logw"), count(lit(1)).as("n_grams"))
  }

  /** DSIR selection: Gumbel top-k over the importance weights — a sample
    * WITHOUT replacement with inclusion probability ∝ exp(logw/τ), via the
    * Gumbel-max trick on the deterministic md5-uniform of the document id
    * (no RNG: engines and re-runs agree exactly). The key rounds to 6
    * decimals BEFORE ranking (ln is only ~1-ulp reproducible across libms;
    * ranking must see identical keys — same discipline as
    * [[weightedSample]]), id as tiebreak.
    *
    * The top-k plans as TakeOrderedAndProject — per-partition k-heaps, no
    * global sort of the corpus. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, buckets: Int, k: Int, tau: Double,
                 salt: String): DataFrame = {
    require(k > 0 && tau > 0, s"need k>0, tau>0; got k=$k tau=$tau")
    val u = (sampleBucket(col(idCol), salt).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    dsirWeights(raw, target, idCol, textCol, buckets)
      .withColumn("__key", round(col("logw") / lit(tau) - log(-log(u)), 6))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__key")
  }

  /** Text-cleaning normalization pass: control characters (C0 + DEL) become
    * spaces, whitespace runs collapse to one space, ends trimmed. Pure
    * column expression — map-side, zero shuffle. Pairs with the
    * [[graft.expressions.UnicodeNormalize]] NFC/NFKC pass. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(c, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))

  // ---- corpus snapshot diff ----------------------------------------------

  /** Fingerprint diff of two corpus snapshots — the incremental-ingestion
    * audit: which documents were added, removed, changed, or unchanged
    * between yesterday's corpus and today's. Input is (id, fingerprint)
    * per side; one full-outer join on id.
    *
    * Scale design: both sides reduce to narrow (id, md5) tables — 16-ish
    * bytes/doc of join state at any corpus size — and the join keys on id
    * (high-cardinality, skew-free). This is the state shape the
    * incremental-dedup family already persists, reused for change audit. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
                   fpCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), col(fpCol).as("__fp_old"))
    val n = newSnap.select(col(idCol), col(fpCol).as("__fp_new"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") === col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col(idCol), col("status"))
  }

  def epochShuffle(df: DataFrame, id: Column, seed: String): DataFrame = {
    val keyed = df
      .withColumn("__k", md5(concat(lit(seed), lit(":"), id.cast("string"))))
      .withColumn("__b", conv(substring(col("__k"), 1, 2), 16, 10).cast("int"))
    val offsets = keyed.groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    val inBucket = Window.partitionBy(col("__b")).orderBy(col("__k"), id)
    keyed.join(broadcast(offsets), Seq("__b"))
      .withColumn("shuffle_pos", col("__off") + row_number().over(inBucket))
      .drop("__b", "__k", "__off")
  }
}
