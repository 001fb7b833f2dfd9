package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.VectorCosine.vecCosine

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline and a bit-sampled
  * random-hyperplane LSH as the scale path. All arithmetic runs through
  * Spark's higher-order array functions (zip_with/aggregate) in double
  * precision — codegen'd, no UDFs.
  *
  * Scale design: queries are broadcast (a query set is small by
  * definition); the corpus side never shuffles for brute force — one narrow
  * scan + local top-k heap via TakeOrderedAndProject (single query) or a
  * partial top-k window (query batch). The LSH path buckets the corpus on
  * compact sign-bit keys so candidate generation is a hash join on longs.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns (cast float arrays
    * first: `.cast("array<double>")`). Sequential left-to-right aggregate —
    * deterministic and oracle-reproducible. This is the composable
    * reference form; the operators below use the fused native kernel
    * `graft.expressions.VectorCosine`, which is bit-identical (same
    * accumulation order) but allocation-free and codegen'd. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), _ + _)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Driver-side cosine over raw arrays, used by the IVF training /
    * probe-planning paths (bounded centroid-matrix math only — never
    * corpus-sized). Guarded: a zero-norm operand yields 0.0 rather than
    * NaN, so degenerate vectors sort last instead of poisoning argmax. */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i)
      nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0) 0.0 else dot / d
  }

  /** Per-row centroid scores as ONE array<struct<c:double, i:int>> column
    * (cosine of `v` against every centroid, index attached for
    * argmax/top-probe selection). Two regimes:
    *  - nlist <= 64: per-centroid literal expansion over the codegen'd
    *    [[graft.expressions.VectorCosine]] kernel — fastest per row, and
    *    the historical (gate-pinned) formulation.
    *  - nlist > 64: the [[graft.expressions.CentroidCosines]] matrix
    *    kernel — ONE flat row-major centroid matrix walked in a compiled
    *    loop, plan size O(1) in nlist. The literal expansion generates
    *    janino code quadratic-ish in nlist and falls off whole-stage
    *    codegen past ~64 cells (the round-7 scale probe measured 424 s
    *    to assign 20k vectors to 313 cells that way), and the
    *    higher-order-function formulation pays an interpreted lambda per
    *    ELEMENT (132 s measured). At 100 TB nlist is thousands; the
    *    matrix kernel IS the production path.
    * Ties break to the higher index in both regimes (array_max struct
    * ordering). */
  /** `forceLiteral` is a TEST-ONLY override so CentroidParitySpec can
    * evaluate the literal regime past the 64-centroid boundary and pin
    * per-cosine bit equality between the two kernels (both accumulate
    * dot and norms left-to-right in double, so a corpus crossing the
    * boundary as it grows — e.g. semanticDedupIvf's nlist=ceil(N/64)
    * passing ~4096 vectors — cannot flip a near-tie argmax assignment).
    * Known, pinned divergence: a ZERO-NORM input scores NaN per cosine
    * in the literal regime (0/0) vs 0.0 in the matrix regime — both
    * orderings rank every cell equal, so argmax still agrees (highest
    * index wins the tie on either side). */
  private[graft] def centroidScores(centroids: Array[Array[Double]],
                                    v: Column,
                                    forceLiteral: Boolean = false): Column =
    if (centroids.length <= 64 || forceLiteral) {
      array(centroids.zipWithIndex.map { case (c, i) =>
        struct(vecCosine(v, typedLit(c.toSeq)).as("c"),
          lit(i).as("i"))
      }: _*)
    } else {
      val dim = centroids.head.length
      val flat = new Array[Double](centroids.length * dim)
      var i = 0
      while (i < centroids.length) {
        System.arraycopy(centroids(i), 0, flat, i * dim, dim); i += 1
      }
      val cos = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.expressions.CentroidCosines(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(v),
          flat, dim))
      zip_with(cos, sequence(lit(0), lit(centroids.length - 1)),
        (c, i) => struct(c.as("c"), i.cast("int").as("i")))
    }

  /** Exact top-k by cosine for a single query row. `query` must be a
    * one-row DataFrame with `(qCol: array)` — broadcast, so the corpus scan
    * is embarrassingly parallel and the global top-k is a
    * TakeOrderedAndProject (per-partition heaps, no shuffle of the corpus). */
  def topKForQuery(corpus: DataFrame, idCol: String, vecCol: String,
                   query: DataFrame, qCol: String, k: Int): DataFrame = {
    corpus
      .crossJoin(broadcast(query.select(col(qCol).cast("array<double>")
        .as("__q"))))
      .select(col(idCol),
        vecCosine(col(vecCol), col("__q")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact top-k per query for a batch of queries: broadcast the batch,
    * score all pairs map-side, keep k per query with the custom
    * GroupedTopK operator — bounded per-key heaps instead of the window
    * formulation's full per-partition sort (row_number().over(...) sorts
    * every (query × corpus) scored row; the heap pass holds k rows per
    * query and streams the rest through). */
  def topKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries.select(col(qIdCol).as("query_id"),
        col(qVecCol).cast("array<double>").as("__q"))))
      .select(col("query_id"), col(idCol),
        vecCosine(col(vecCol), col("__q")).as("cosine"))
    graft.plans.GroupedTopK(scored, Seq("query_id"),
      Seq(col("cosine").desc, col(idCol).asc), k)
  }

  /** Hyperplane normals are generated driver-side from a fixed seed and
    * embedded as literal arrays sized to the embedding dimension — identical
    * on every executor and across runs, and the per-row work is a plain
    * zip_with dot product (a hash-per-component alternative would cost
    * nPlanes×dim hash calls per row). */
  private def planes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Embedding dimensionality probe: one-row action, negligible at any
    * corpus size. */
  def dimOf(corpus: DataFrame, vecCol: String): Int =
    corpus.select(size(col(vecCol))).head().getInt(0)

  /** `nPlanes` sign bits of random-hyperplane projections packed into one
    * long — the classic cosine-LSH sketch. `dim` must equal the embedding
    * length (use dimOf). */
  def signBits(vec: Column, dim: Int, nPlanes: Int = 16,
               seed: Long = 42L): Column = {
    val v = vec.cast("array<double>")
    val bits = planes(nPlanes, dim, seed).zipWithIndex.map {
      case (plane, p) =>
        val proj = aggregate(
          zip_with(v, typedLit(plane.toSeq), (x, w) => x * w),
          lit(0.0), _ + _)
        when(proj >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Approximate near-neighbor pairs: bucket by sign-bit sketch over
    * `tables` independent hash tables (different seeds), union candidates,
    * then re-score exactly with cosine and keep pairs ≥ threshold. */
  def annPairs(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nPlanes: Int = 12,
               tables: Int = 4): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    // persisted: the sketch relation feeds BOTH sides of the bucket
    // self-join — uncached, the tables×nPlanes hyperplane projections
    // would be computed twice per vector (once per join side). Bounded:
    // (id, tbl, 8-byte sketch) per vector per table.
    val withSketch = graft.operators.Dedup.reuse(
      s"ann:$idCol:$vecCol:$nPlanes:$tables",
      (0 until tables).map { t =>
        corpus.select(col(idCol),
          lit(t).as("tbl"),
          signBits(col(vecCol), dim, nPlanes, seed = 1000L + t).as("sketch"))
      }.reduce(_ unionAll _))
    val a = withSketch.select(col("tbl"), col("sketch"),
      col(idCol).as("id_a"))
    val b = withSketch.select(col("tbl"), col("sketch"),
      col(idCol).as("id_b"))
    // dedup across hash tables on the BARE id pair — the distinct shuffles
    // 16 bytes per row; carrying the two embedding payloads through it would
    // multiply shuffle volume by ~dim (the vectors re-attach afterwards via
    // two id-keyed joins against the corpus, and scoring runs once per
    // surviving pair instead of once per (pair, table) duplicate)
    val pairs = a.join(b, Seq("tbl", "sketch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(corpus.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        vecCosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Driver-local Lloyd iterations seeded with the first `k` points: each
    * round assigns every point to `nearest(point, centroids)`, then moves
    * each centroid to the mean of its points (summed in point order);
    * clusters left empty keep their previous centroid. */
  private def lloyd(points: Array[Array[Double]], k: Int, iters: Int)(
      nearest: (Array[Double], Array[Array[Double]]) => Int)
      : Array[Array[Double]] = {
    val dim = points.head.length
    var cents = points.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      points.foreach { x =>
        val best = nearest(x, cents)
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += x(d); d += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (counts(j) == 0) old else sums(j).map(_ / counts(j))
      }
    }
    cents
  }

  // --- IVF (inverted-file) ANN ---------------------------------------------

  /** IVF index: corpus rows labeled with their nearest-centroid cluster,
    * plus the centroids themselves. */
  final case class IvfIndex(assignments: DataFrame,
                            centroids: Array[Array[Double]]) {
    /** Persist the index partitioned by cluster — at scale, probing then
      * prunes whole files/partitions instead of filtering a full scan. */
    def write(path: String): Unit =
      assignments.write.partitionBy("cluster").mode("overwrite").parquet(path)
  }

  /** Training-sample bound of [[ivfIndex]] and [[pqIndex]]: at most this
    * many rows × dim doubles reach the driver. */
  private[graft] val MaxTrainRows = 25600

  /** Build an IVF index with deterministic spherical k-means: centroids
    * initialize from a seeded hash-order sample, Lloyd iterations run
    * driver-locally on that bounded sample, and the full corpus is
    * assigned in one distributed argmax-cosine pass (fused VectorCosine
    * kernels), so the same code runs unchanged at 100 TB. Empty clusters
    * keep their previous centroid. */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 64, iters: Int = 3,
               seed: Long = 42L): IvfIndex = {
    val v = col(vecCol).cast("array<double>")
    // Train on a bounded deterministic sample (hash-ordered; the whole
    // corpus when it is smaller), with Lloyd iterations run driver-locally
    // — the standard IVF training recipe (coarse quantizers train on a
    // fixed-size sample regardless of corpus size). At most
    // MaxTrainRows × dim doubles of bounded driver memory; the per-
    // iteration DISTRIBUTED jobs of a naive k-means — each one a fresh
    // whole-stage-codegen compile because the centroid literals change
    // every round — are gone entirely. Assignment of the full corpus stays
    // a distributed one-pass expression.
    val train: Array[Array[Double]] = corpus
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(MaxTrainRows)
      .select(v)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(train.nonEmpty,
      "ivfIndex: corpus is empty — no centroids can be seeded")
    // take(nlist) seeds min(nlist, train rows) centroids: fewer than
    // requested when the corpus (or MaxTrainRows) is smaller than nlist.
    // Intentional for tiny corpora; callers sizing nlist from N must also
    // keep nlist <= MaxTrainRows or the cell count silently stops
    // growing with the corpus (see semanticDedupIvf's explicit clamp).
    // argmax-cosine assignment, ties to the higher index (mirroring the
    // distributed struct-max tie-break)
    val centroids = lloyd(train, nlist, iters) { (x, cents) =>
      var best = 0; var bestC = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val c = cosArr(x, cents(i))
        if (c >= bestC) { bestC = c; best = i }
        i += 1
      }
      best
    }
    // distributed one-pass assignment: argmax over (cosine, index) structs;
    // struct ordering picks the max cosine (ties break to the higher index
    // deterministically); plan size stays O(1) in nlist past 64 cells
    // (centroidScores HOF regime)
    val assigned = corpus.withColumn("cluster",
      array_max(centroidScores(centroids, v)).getField("i"))
    IvfIndex(assigned, centroids)
  }

  /** ANN top-k through an IVF index: the query probes its `nprobe` nearest
    * centroids (driver-side math over the small centroid matrix) and
    * brute-forces only those clusters — a cluster-pruned scan plus a local
    * top-k heap, no corpus shuffle. Recall grows with nprobe; nprobe=nlist
    * degrades gracefully to exact brute force. */
  def ivfTopKForQuery(index: IvfIndex, idCol: String, vecCol: String,
                      query: DataFrame, qCol: String, k: Int,
                      nprobe: Int = 4): DataFrame = {
    val qRows = query.select(col(qCol).cast("array<double>")).head(1)
    require(qRows.nonEmpty, "ivfTopKForQuery: query DataFrame is empty")
    val q = qRows.head.getSeq[Double](0).toArray
    val probes = index.centroids.zipWithIndex
      .map { case (c, i) => (cosArr(q, c), i) }
      .sortBy(-_._1).take(nprobe).map(_._2)
    index.assignments
      .filter(col("cluster").isin(probes.toSeq: _*))
      .select(col(idCol),
        vecCosine(col(vecCol).cast("array<double>"),
          typedLit(q.toSeq)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact all-pairs above a cosine threshold — the quadratic baseline the
    * ANN path is validated against in tests (only sane at small N). */
  def exactPairs(corpus: DataFrame, idCol: String, vecCol: String,
                 threshold: Double): DataFrame = {
    // minParallel (r11): the quadratic scoring work lives on the streamed
    // side of the nested-loop join — a single-split corpus scan would
    // score ALL N² pairs in one task (measured: 1.6 s single-task stage
    // at sf0.1, 31 cores idle). No-op once the scan has >= default
    // parallelism partitions.
    val a = Scale.minParallel(
      corpus.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        vecCosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cluster-blocked near-dup pairs through an IVF index: candidate pairs
    * are generated only WITHIN shared clusters (the semantic-dedup blocking
    * strategy — quadratic per cluster, not per corpus), then re-scored with
    * the exact cosine so every emitted pair is a true near-pair.
    *
    * `probes` > 1 assigns each vector to its `probes` nearest centroids —
    * single-assignment splits boundary pairs (measured 0.27 recall at
    * sf0.1 with nlist=16), multi-probe recovers them (0.84 at probes=3,
    * 0.96 at probes=4) at probes²-ish candidate cost. Candidates dedup as
    * bare id pairs BEFORE vectors re-attach, so the blocking shuffle stays
    * payload-lean; recall vs the exact baseline is gated in
    * `llm_embed_cluster_recall`, mirroring the LSH path's gate. */
  /** Every vector re-assigned to its `probes` nearest cells (multi-probe
    * IVF membership — the candidate-generation side of [[clusterPairs]]).
    * Exposed for stage-level profiling and for callers composing their
    * own candidate joins. */
  def multiProbeAssignments(index: IvfIndex, idCol: String, vecCol: String,
                            probes: Int): DataFrame = {
    // minParallel (r11): nlist centroid cosines per row on a single-split
    // scan is the same compute-amplified single-task shape as exactPairs;
    // no-op at real scan parallelism. Hash by the corpus id column.
    val corpus = Scale.minParallel(index.assignments.drop("cluster"), idCol)
    val v = col(vecCol).cast("array<double>")
    // explode_outer + null filter: a plain explode would get
    // size/isnotnull filters inferred beneath it that re-inline (and
    // re-evaluate) all nlist centroid cosines per row
    corpus.withColumn("cluster",
        explode_outer(transform(
          slice(reverse(array_sort(
            centroidScores(index.centroids, v))), 1, probes),
          s => s.getField("i"))))
      .filter(col("cluster").isNotNull)
  }

  def clusterPairs(index: IvfIndex, idCol: String, vecCol: String,
                   threshold: Double, probes: Int = 1): DataFrame = {
    val corpus = index.assignments.drop("cluster")
    val asg =
      if (probes <= 1) index.assignments
      else multiProbeAssignments(index, idCol, vecCol, probes)
    // scoped-cache the NARROW (cluster, id) membership before the
    // self-join: both join sides consume it, and without the cache the
    // multi-probe centroid scoring (the dominant upstream) executes once
    // per side — measured 2x3.9s of a 13s total at the 10x probe scale.
    // Two columns only, so the cached footprint is rows x 12 bytes, not
    // the corpus.
    val slim = Dedup.reuse(s"ivf:members:$idCol:$vecCol:$probes",
      asg.select(col("cluster"), col(idCol)))
    val a = slim.select(col("cluster"), col(idCol).as("id_a"))
    val b = slim.select(col("cluster"), col(idCol).as("id_b"))
    // Candidate re-spread (r11): the in-cluster pair join is keyed by at
    // most nlist distinct clusters, so its natural parallelism is
    // structurally <= nlist regardless of session partitioning, and the
    // downstream exact rescore (one fused cosine per candidate pair) is
    // compute-amplified far beyond its ~16 bytes/row. Repartitioning the
    // BARE id pairs by (id_a, id_b) costs one narrow shuffle (guide §8:
    // decide on small rows, move heavy compute onto well-spread keys) —
    // and because HashPartitioning(id_a, id_b) satisfies the dedup
    // aggregate's clustering requirement, the distinct plans NO second
    // exchange: this replaces the dedup's own nlist-bound exchange with a
    // fleet-width one rather than adding a shuffle (AQE-final plan in
    // plans/clusterpairs/llm_embed_cluster_recall.txt). Width = the
    // session's parallelism floor (defaultParallelism scales with the
    // cluster; shuffle.partitions is the operator floor the session
    // configured).
    val session = slim.sparkSession
    val np = math.max(session.sparkContext.defaultParallelism,
      session.conf.get("spark.sql.shuffle.partitions").toInt)
    val cands = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .repartition(np, col("id_a"), col("id_b"))
      .distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    cands.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        vecCosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** k-nearest-neighbor graph over the corpus: for every vector, its `k`
    * most cosine-similar neighbors as directed (src, dst, cosine) edges —
    * the backbone structure of graph-based curation (semantic dedup,
    * density filtering, cluster labeling).
    *
    * `nlist = 0` scores all ordered pairs exactly (quadratic — the
    * validation/oracle mode); `nlist > 0` generates candidates through
    * IVF-cluster blocking with `probes`-nearest multi-probe assignment,
    * so each vector only scores against its probed clusters (per-cluster
    * quadratic). Either way the per-source top-k runs through the
    * GroupedTopK bounded-heap operator — shuffle bounded at k rows per
    * mapper per source, no per-source sort anywhere. Ties break by
    * ascending dst id (total, deterministic). */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               nlist: Int = 0, probes: Int = 3, seed: Long = 42L)
      : DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // persistScoped: the pair set feeds BOTH directions of the union below
    // — without it the (quadratic in exact mode) pair generation runs
    // twice per call, and the exact-baseline side of recall twins runs it
    // again per consuming query
    val undirected = Dedup.reuse(s"knng:$nlist:$probes",
      if (nlist <= 0) exactPairs(corpus, idCol, vecCol, -1.0)
      else clusterPairs(ivfIndex(corpus, idCol, vecCol, nlist, iters = 2,
        seed = seed), idCol, vecCol, -1.0, probes))
    val directed = undirected.select(
        col("id_a").as("src"), col("id_b").as("dst"), col("cosine"))
      .unionAll(undirected.select(
        col("id_b").as("src"), col("id_a").as("dst"), col("cosine")))
    graft.plans.GroupedTopK(directed, Seq("src"),
      Seq(col("cosine").desc, col("dst").asc), k)
  }

  /** Per-vector neighborhood density: mean cosine to the k nearest
    * neighbors from [[knnGraph]] — the standard embedding-space
    * outlier/isolation signal (low density = far from everything =
    * off-distribution sample; high density = redundant cluster core).
    * Exact: scores all pairs (knnGraph's `nlist = 0` mode). */
  def knnDensity(corpus: DataFrame, idCol: String, vecCol: String, k: Int)
      : DataFrame =
    knnGraph(corpus, idCol, vecCol, k)
      .groupBy(col("src").as(idCol))
      .agg(avg(col("cosine")).as("knn_density"),
        count(lit(1)).as("n_neighbors"))

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * cosine neighborhood ([[knnGraph]]) split by label — the nearest
    * same-label neighbor (easiest positive), the nearest DIFFERENT-label
    * neighbor (the hard negative a contrastive batch wants), how many of
    * the k neighbors are negatives, and the margin between them. A small
    * or negative margin marks the anchors sitting on a label boundary —
    * the rows worth oversampling (or auditing for mislabels) before
    * training.
    *
    * Scale design: inherits knnGraph's modes — exact pairs for validation,
    * IVF-blocked for corpora where quadratic is impossible — and adds only
    * two label equi-joins (broadcastable narrow (id, label) sides) plus a
    * map-side-combined conditional aggregation per anchor. Nulls where the
    * neighborhood is single-label (no negative seen) or all-negative (no
    * positive seen). */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, nlist: Int = 0,
                    probes: Int = 3): DataFrame = {
    val labels = corpus.select(col(idCol), col(labelCol))
    val g = knnGraph(corpus, idCol, vecCol, k, nlist, probes)
    val same = col("__src_label") === col("__dst_label")
    g.join(labels.select(col(idCol).as("src"),
        col(labelCol).as("__src_label")), Seq("src"))
      .join(labels.select(col(idCol).as("dst"),
        col(labelCol).as("__dst_label")), Seq("dst"))
      .groupBy(col("src").as(idCol))
      .agg(
        round(max(when(same, col("cosine"))), 6).as("pos_cos"),
        round(max(when(!same, col("cosine"))), 6).as("neg_cos"),
        round(max(when(same, col("cosine")))
          - max(when(!same, col("cosine"))), 6).as("margin"),
        sum(when(!same, lit(1L)).otherwise(lit(0L))).as("n_neg"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    * LASER/CCMatrix parallel-corpus criterion): for every left-side
    * document, the best right-side candidate scored by RATIO MARGIN —
    * the raw cosine normalized by the mean cosine of each side's k
    * nearest cross-side neighbors. Absolute cosine thresholds fail under
    * hubness (some vectors sit close to everything); the margin cancels
    * it. Emits one row per left document: its best pair, the margin, and
    * a mutuality flag (the pair is also the right row's best — the
    * high-precision mining setting).
    *
    * Validation mode: exact cross cosine (quadratic) — at corpus scale
    * candidates come from the IVF probes path exactly as clusterPairs
    * blocks semantic dedup. The pair and margin relations persist scoped
    * (each feeds two GroupedTopK consumers). Determinism: neighbor means
    * and margins round to 6 BEFORE ranking, id tiebreaks throughout. */
  def bitextMine(left: DataFrame, right: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // minParallel (r11): same single-task quadratic-scoring starvation as
    // exactPairs (measured: 3 concurrent 0.54 s single-task cross-cosine
    // stages at sf0.1); no-op at real scan parallelism.
    val l = Scale.minParallel(
      left.select(col(idCol).as("src"), col(vecCol).as("__vl")), "src")
    val r = right.select(col(idCol).as("dst"), col(vecCol).as("__vr"))
    val pairs = Dedup.reuse(s"bitext:pairs:$k",
      l.crossJoin(r).select(col("src"), col("dst"),
        vecCosine(col("__vl"), col("__vr")).as("__c")))
    val nnL = graft.plans.GroupedTopK(pairs, Seq("src"),
        Seq(col("__c").desc, col("dst").asc), k)
      .groupBy(col("src")).agg(round(avg(col("__c")), 6).as("__al"))
    val nnR = graft.plans.GroupedTopK(pairs, Seq("dst"),
        Seq(col("__c").desc, col("src").asc), k)
      .groupBy(col("dst")).agg(round(avg(col("__c")), 6).as("__ar"))
    val scored = Dedup.reuse(s"bitext:margin:$k",
      pairs.join(nnL, Seq("src")).join(nnR, Seq("dst"))
        .select(col("src"), col("dst"),
          round(col("__c") * 2 / (col("__al") + col("__ar")), 6)
            .as("margin")))
    val bestL = graft.plans.GroupedTopK(scored, Seq("src"),
      Seq(col("margin").desc, col("dst").asc), 1)
    val bestR = graft.plans.GroupedTopK(scored, Seq("dst"),
        Seq(col("margin").desc, col("src").asc), 1)
      .select(col("src").as("__rs"), col("dst").as("__rd"),
        lit(1).as("__mut"))
    bestL.join(bestR,
        bestL("src") === col("__rs") && bestL("dst") === col("__rd"),
        "left")
      .select(bestL("src"), bestL("dst"), col("margin"),
        coalesce(col("__mut"), lit(0)).cast("boolean").as("mutual"))
  }

  /** Per-label centroid diagnostics over a labeled embedding corpus: for
    * each label, the member count, the centroid's L2 norm, and the
    * mean/min cosine of members to their OWN label centroid ("purity") —
    * the standard embedding-space health check before using labels for
    * curriculum mixing or classifier-based filtering (a low-purity label
    * is mislabeled or multi-modal; a near-zero centroid norm means the
    * label's members cancel out, i.e. carry no common direction).
    *
    * Scale design: the centroid is a dim-wise mean via posexplode →
    * groupBy(label, pos) partial aggregation — (labels × dim) rows total,
    * full map-side combine, never a per-label collect. Centroid arrays
    * (labels × dim doubles) re-broadcast to members by label equi-join.
    * Determinism: dim-wise means are rounded to 6 decimals BEFORE any
    * downstream arithmetic, so member cosines fold identical doubles in
    * identical (sequential array) order on any engine — the only
    * order-sensitive reductions left are the final per-label avg/min,
    * rounded on emit. */
  def labelCentroidStats(corpus: DataFrame, idCol: String, vecCol: String,
                         labelCol: String): DataFrame = {
    val ex = corpus.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
    val centroids = ex.groupBy(col("label"), col("pos"))
      .agg(round(avg(col("v")), 6).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
    val dot = (x: String, y: String) =>
      expr(s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (s, t) -> s + t)")
    corpus.select(col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(centroids), "label")
      .withColumn("__cos", dot("__v", "centroid") /
        (sqrt(dot("__v", "__v")) * sqrt(dot("centroid", "centroid"))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        round(sqrt(first(dot("centroid", "centroid"))), 6)
          .as("centroid_norm"),
        round(avg(col("__cos")), 6).as("mean_cos"),
        round(min(col("__cos")), 6).as("min_cos"))
  }

  /** SemDeDup-style semantic deduplication: drop all but one member of
    * every embedding-cosine near-dup cluster (pairs ≥ threshold →
    * connected components → keep each component's min id). The end-to-end
    * op a curation pipeline calls; pair generation composes with
    * [[Dedup.clusterLabels]]'s pointer-jumping CC and anti-join drop.
    *
    * `nlist = 0` scores all pairs exactly (the validation/oracle mode,
    * quadratic — small corpora only); `nlist > 0` blocks through an IVF
    * index (2 Lloyd iterations) with 3-nearest multi-probe assignment —
    * the 100 TB path: per-cluster quadratic only, recall characterized in
    * LlmOpsSpec (0.84+ on this corpus; every emitted pair is
    * exact-rescored, so false positives are structurally impossible in
    * either mode). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 0,
                    seed: Long = 42L): DataFrame = {
    val pairs =
      if (nlist <= 0) exactPairs(corpus, idCol, vecCol, threshold)
      else clusterPairs(
        ivfIndex(corpus, idCol, vecCol, nlist, iters = 2, seed = seed),
        idCol, vecCol, threshold, probes = 3)
    Dedup.survivors(corpus, pairs, idCol)
  }

  // --- product quantization (PQ / ADC) -------------------------------------

  /** PQ index: per-row code arrays plus the flat subspace-major codebook
    * (`[(s·ksub + j)·dsub + d]`). Codes are m small ints per vector — the
    * memory-side ANN path (IVF prunes WHICH rows are scored; PQ shrinks
    * WHAT is scored: a dim×4-byte embedding becomes m bytes of codes, so a
    * 10⁹-vector corpus scores from ~8 GB of codes instead of ~256 GB of
    * floats). */
  final case class PqIndex(codes: DataFrame, codebook: Array[Double],
                           m: Int, ksub: Int, dsub: Int)

  /** Driver-side Lloyd k-means under L2 on a bounded sample — the standard
    * PQ codebook trainer (Jégou et al. 2011 §II.C train per-subspace
    * quantizers on a sample regardless of corpus size). Deterministic:
    * seeded hash-ordered sample, first-k init, ties to the lower index. */
  private def kmeansL2(points: Array[Array[Double]], k: Int,
                       iters: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "kmeansL2: no training points")
    val dim = points.head.length
    lloyd(points, k, iters) { (x, cents) =>
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        var dist = 0.0; var d = 0
        while (d < dim) {
          val diff = x(d) - cents(j)(d); dist += diff * diff; d += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      best
    }
  }

  /** L2-normalize an array<double> column (one norm computation per row,
    * not per element). Unit vectors make the ADC inner product an
    * approximate COSINE — the similarity the rest of the family uses. */
  private def normalized(v: Column): Column = {
    val n = sqrt(aggregate(zip_with(v, v, (p, q) => p * q), lit(0.0), _ + _))
    transform(v, x => x / n)
  }

  /** Build a PQ index: codebooks train driver-side on the same bounded
    * hash-ordered sample contract as [[ivfIndex]] (≤ [[MaxTrainRows]] × dim
    * doubles of driver memory); corpus encoding is one distributed pass
    * through the fused [[graft.expressions.PqEncode]] kernel. `dim` must be
    * divisible by `m`. */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 5,
              seed: Long = 42L): PqIndex = {
    val spark = corpus.sparkSession
    val vd = col(vecCol).cast("array<double>")
    val train = corpus
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(MaxTrainRows)
      .select(normalized(vd))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(train.nonEmpty, "pqIndex: corpus is empty")
    val dim = train.head.length
    require(dim % m == 0, s"pqIndex: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val codebook = new Array[Double](m * ksub * dsub)
    for (s <- 0 until m) {
      val sub = train.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub))
      val cents = kmeansL2(sub, ksub, iters)
      for (j <- 0 until ksub; d <- 0 until dsub)
        // clusters beyond the distinct-point count keep their init value;
        // rows never map to them (farther than the identical centroid)
        codebook((s * ksub + j) * dsub + d) =
          cents(math.min(j, cents.length - 1))(d)
    }
    // build the encode expression over the ANALYZED normalized frame so the
    // captured attribute keeps its exprId (same pattern as GroupedTopK)
    val withN = corpus.select(col(idCol), normalized(vd).as("__nv"))
    val enc = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.expressions.PqEncode(
        org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
          spark, withN("__nv")),
        codebook, m, ksub, dsub))
    val codes = withN.select(col(idCol), enc.as("codes"))
    PqIndex(codes, codebook, m, ksub, dsub)
  }

  /** ADC top-k for a query batch: each query's m×ksub lookup table of
    * partial inner products is computed driver-side over the codebook and
    * broadcast; per corpus row the score is m array lookups summed by
    * stock codegen'd higher-order functions (zip_with/element_at/
    * aggregate) — no floats ever leave the codes relation. Top-k per query
    * rides the bounded-heap GroupedTopK. For production recall, take
    * `k' > k` here and exactly rescore the k' candidates against the raw
    * vectors (what the gated recall query does). */
  def pqTopKBatch(index: PqIndex, idCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  k: Int): DataFrame = {
    val spark = index.codes.sparkSession
    val m = index.m; val ksub = index.ksub; val dsub = index.dsub
    val qRows = queries
      .select(col(qIdCol), normalized(col(qVecCol).cast("array<double>")))
      .collect()
    val lutRows = qRows.map { r =>
      val qid = r.get(0)
      val qv = r.getSeq[Double](1).toArray
      val lut = new Array[Double](m * ksub)
      for (s <- 0 until m; j <- 0 until ksub) {
        var dot = 0.0; var d = 0
        while (d < dsub) {
          dot += qv(s * dsub + d) * index.codebook((s * ksub + j) * dsub + d)
          d += 1
        }
        lut(s * ksub + j) = dot
      }
      org.apache.spark.sql.Row(qid, lut.toSeq)
    }
    val lutSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        queries.schema(qIdCol).dataType),
      org.apache.spark.sql.types.StructField("__lut",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    val luts = spark.createDataFrame(
      spark.sparkContext.parallelize(lutRows.toSeq), lutSchema)
    val scored = index.codes
      .crossJoin(broadcast(luts))
      .select(col("query_id"), col(idCol),
        aggregate(
          zip_with(col("codes"),
            sequence(lit(0), lit(m - 1)),
            (c, s) => element_at(col("__lut"), s * ksub + c + 1)),
          lit(0.0), _ + _).as("adc_score"))
    graft.plans.GroupedTopK(scored, Seq("query_id"),
      Seq(col("adc_score").desc, col(idCol).asc), k)
  }

  /** Semantic decontamination — the EMBEDDING-space twin of the n-gram
    * `Curation.decontaminate`: a corpus document whose embedding sits
    * within `threshold` cosine of ANY benchmark/eval embedding is flagged
    * (paraphrased leakage that shares no 5-gram still collides here).
    * Returns one row per flagged corpus id: (idCol, eval_id, cosine) for
    * the NEAREST eval item (ties on the rounded cosine to smallest
    * eval_id).
    *
    * Scale design: eval suites are small by nature (benchmark files, not
    * corpora), so the eval side BROADCASTS and the corpus scan stays
    * embarrassingly parallel — one fused-codegen cosine per (corpus,
    * eval) pair, per-corpus-id argmax via the GroupedTopK bounded heap,
    * no shuffle of the corpus beyond the heap's one-row-per-id combine.
    * Cosines round(6) before the threshold/tie so the flagged set is
    * engine-portable. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold must be in (0, 1]")
    val e = evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("__ev"))
    val scored = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .crossJoin(broadcast(e))
      .select(col(idCol), col("eval_id"),
        round(vecCosine(col("__cv"), col("__ev")), 6).as("cosine"))
    graft.plans.GroupedTopK(scored, Seq(idCol),
        Seq(col("cosine").desc, col("eval_id").asc), 1)
      .filter(col("cosine") >= threshold)
      .select(col(idCol), col("eval_id"), col("cosine"))
  }
}
