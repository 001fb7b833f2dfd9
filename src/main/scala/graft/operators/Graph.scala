package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for web-crawl curation — the graph-shaped quality
  * signals a 100 TB crawl pipeline computes before any content model runs:
  * per-page degree statistics and PageRank centrality (the classic
  * crawl-prioritization / quality prior; Page et al. 1999, as used by the
  * Common Crawl ranking releases).
  *
  * Spark-first design (builder-prompt preference (a): composition over
  * custom plans):
  *  - Everything is joins + partial aggregations on the edge list — the
  *    shapes Catalyst/AQE already plan well (map-side combine on the degree
  *    counts, broadcast of the rank deltas never happens — both sides are
  *    corpus-sized and hash-partition on the join key).
  *  - PageRank is the standard synchronous power iteration: per round ONE
  *    equi-join (ranks ⋈ edges on src) and ONE grouped sum (contributions
  *    by dst) — two shuffles per iteration, the floor for any join-based
  *    formulation. Ranks and edges co-partition on the node id across
  *    rounds, so AQE reuses the exchange layout.
  *  - Dangling mass (rank parked on pages with no out-links) is summed to
  *    ONE driver double per iteration and redistributed uniformly — the
  *    textbook correction, and the only driver state in the loop (the
  *    BPE-trainer bounded-driver-state contract: one row per step).
  *  - `localCheckpoint` after each iteration cuts the lineage chain — at
  *    iteration k the plan would otherwise nest k joins deep and the
  *    final-round plan would re-execute the whole history.
  *
  * Determinism: rank values are IEEE-double sums whose partition order is
  * engine-dependent; callers that hash-compare must round on emit (the
  * repo-wide round(6) discipline — error after a handful of iterations is
  * ~1e-14, six orders below the grid).
  */
object Graph {

  /** Per-node degree table: out_deg, in_deg, dangling (no out-links),
    * isolated (no links at all). `nodes` must be unique on `idCol`; edges
    * whose endpoints are absent from `nodes` still count toward the
    * degrees of the endpoints that ARE present (crawl frontiers reference
    * pages not yet fetched). Two map-side-combined grouped counts + two
    * hash joins on the node id — no windows, no driver state. */
  def linkStats(nodes: DataFrame, edges: DataFrame, idCol: String,
                srcCol: String, dstCol: String): DataFrame = {
    val outDeg = edges.groupBy(col(srcCol).as(idCol))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col(dstCol).as(idCol))
      .agg(count(lit(1)).as("in_deg"))
    nodes.select(col(idCol))
      .join(outDeg, Seq(idCol), "left")
      .join(inDeg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("out_deg").isNull.as("dangling"),
        (col("out_deg").isNull && col("in_deg").isNull).as("isolated"))
  }

  /** PageRank over `edges` restricted to the `nodes` universe, with an
    * optional teleport set: rank_0 = t(·), then `iters` rounds of
    *
    *   rank'(v) = (1−d)·t(v) + d·( Σ_{u→v} rank(u)/outdeg(u) + D·t(v) )
    *
    * with damping d = 0.85, where t is the teleport distribution —
    * uniform 1/N without `teleport`, uniform over the seed set with it
    * (TrustRank, Gyöngyi et al. VLDB 2004: trust flows OUT of a vetted
    * seed set, so link-spam neighborhoods no seed reaches stay near zero
    * — the crawl-level spam/quality prior) — and D the dangling mass
    * (Σ rank over nodes with outdeg 0). Both the restart and the dangling
    * redistribution go to t, so Σ rank stays exactly 1 every round. Returns (`idCol`, rank).
    *
    * Contract: `nodes` unique on `idCol`; edge endpoints and seeds drawn
    * from `nodes` (both are joined against it — a stray endpoint's
    * contribution is dropped rather than corrupting the mass balance);
    * parallel edges count once per occurrence, self-loops are legal
    * (callers wanting the classic self-loop-free chain filter upstream).
    * Driver state: N and |seeds| (two longs) + one dangling-mass double
    * per iteration. The loop runs exactly `iters` rounds. */
  def pageRank(nodes: DataFrame, edges: DataFrame, idCol: String,
               srcCol: String, dstCol: String,
               iters: Int = 5,
               teleport: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val damping = 0.85
    val ids = nodes.select(col(idCol))
    val n = ids.count()
    require(n > 0, "pageRank needs a non-empty node set")

    // teleport column t(v), materialized once on the node table
    val tele = teleport match {
      case None => ids.withColumn("__tv", lit(1.0 / n))
      case Some(s) =>
        val seeds = s.select(col(idCol)).distinct()
        val m = seeds.join(ids, idCol).count()
        require(m > 0, "teleport seed set shares no ids with nodes")
        ids.join(seeds.withColumn("__seed", lit(1)), Seq(idCol), "left")
          .select(col(idCol),
            when(col("__seed").isNotNull, lit(1.0 / m))
              .otherwise(lit(0.0)).as("__tv"))
    }
    val teleP = Dedup.reuse("graph:tv", tele)

    // (src, dst, outdeg) — built once, reused every round. The scoped
    // persist keeps the degree join off the per-iteration critical path.
    val outDeg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("__odeg"))
    val e = Dedup.reuse("graph:edges",
      edges.select(col(srcCol), col(dstCol))
        .join(outDeg, srcCol)
        .select(col(srcCol).as("__src"), col(dstCol).as("__dst"),
          col("__odeg")))
    // dangling node ids — fixed across rounds
    val dangling = Dedup.reuse("graph:dangling",
      ids.join(edges.select(col(srcCol).as(idCol)).distinct(),
        Seq(idCol), "left_anti"))

    var ranks = teleP.select(col(idCol), col("__tv").as("__r"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val dm = dangling.join(ranks, idCol)
        .agg(coalesce(sum(col("__r")), lit(0.0))).head.getDouble(0)
      val contribs = e.join(ranks, e("__src") === ranks(idCol))
        .groupBy(col("__dst").as(idCol))
        .agg(sum(col("__r") / col("__odeg")).as("__c"))
      ranks = teleP.join(contribs, Seq(idCol), "left")
        .select(col(idCol),
          (lit(1.0 - damping) * col("__tv") +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) +
              lit(dm) * col("__tv")))
            .as("__r"))
        .localCheckpoint()
    }
    ranks.select(col(idCol), col("__r").as("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg, JACM 1999) — the second classic
    * link-analysis signal: a page is a good AUTHORITY if good hubs link to
    * it, a good HUB if it links to good authorities. `iters` rounds of the
    * mutual recurrence with L1 normalization after each half-step (keeps
    * every score a plain proportion — and the normalizer is ONE driver
    * double per half-step, the pageRank bounded-driver-state contract):
    *
    *   a'(v) = Σ_{u→v} h(u) / ‖·‖₁   then   h'(u) = Σ_{u→v} a'(v) / ‖·‖₁
    *
    * Same join-shape as pageRank: per half-step one equi-join of the edge
    * list with the current score vector plus one grouped sum — two
    * shuffles, localCheckpoint lineage cuts. Returns
    * (`idCol`, authority, hub). Contract as pageRank's; the graph must
    * contain at least one edge between `nodes` members (otherwise the
    * normalizer is zero and HITS is undefined). The loop runs exactly
    * `iters` rounds. */
  def hits(nodes: DataFrame, edges: DataFrame, idCol: String,
           srcCol: String, dstCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ids = nodes.select(col(idCol))
    val n = ids.count()
    require(n > 0, "hits needs a non-empty node set")
    val e = Dedup.reuse("graph:hits:edges",
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")))

    var auth = ids.withColumn("__s", lit(1.0 / n)).localCheckpoint()
    var hub = auth
    for (_ <- 1 to iters) {
      // checkpoint the RAW contribution table, then derive both the
      // normalizer and the normalized vector from the checkpoint — the
      // heavy edge join executes exactly once per half-step (computing
      // the total first and checkpointing after would run it twice)
      val aRaw = e.join(hub, e("__src") === hub(idCol))
        .groupBy(col("__dst").as(idCol)).agg(sum(col("__s")).as("__raw"))
        .localCheckpoint()
      val aTot = aRaw.agg(coalesce(sum(col("__raw")), lit(0.0)))
        .head.getDouble(0)
      require(aTot > 0, "hits: no edge connects two member nodes")
      auth = ids.join(aRaw, Seq(idCol), "left")
        .select(col(idCol),
          (coalesce(col("__raw"), lit(0.0)) / lit(aTot)).as("__s"))
      val hRaw = e.join(auth, e("__dst") === auth(idCol))
        .groupBy(col("__src").as(idCol)).agg(sum(col("__s")).as("__raw"))
        .localCheckpoint()
      val hTot = hRaw.agg(coalesce(sum(col("__raw")), lit(0.0)))
        .head.getDouble(0)
      hub = ids.join(hRaw, Seq(idCol), "left")
        .select(col(idCol),
          (coalesce(col("__raw"), lit(0.0)) / lit(hTot)).as("__s"))
    }
    auth.select(col(idCol), col("__s").as("authority"))
      .join(hub.select(col(idCol), col("__s").as("hub")), Seq(idCol))
  }
}
