package graft.operators

import graft.core.{Caches, Round, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics beyond connected components (the curation-side
  * companion to [[graft.dedup.Components]]): deterministic fixed-round
  * PageRank (Brin & Page 1998). On the near-duplicate similarity graph,
  * rank concentrates on documents embedded in large, densely-connected
  * duplication families — a centrality-weighted canonical-selection
  * signal where min-id survivorship is arbitrary.
  *
  * Determinism contract (the c4_svd_power pattern): a FIXED iteration
  * count from the uniform start — no convergence epsilon, no RNG — so
  * every rank is an arithmetic function of the edge set and an unrolled
  * SQL oracle can replay the fit iteration for iteration.
  *
  * Scale shape: each round is one edges⋈ranks join + groupBy shuffled on
  * node id (the same key every round) plus one scalar aggregate for the
  * dangling mass. The iterated operators here run on
  * [[graft.core.Rounds]]: each round is pinned, which truncates lineage
  * so plan size stays O(1) over iterations, and the round before is
  * freed. State is one rank row per node; the dangling sum is a 1-row
  * frame, never driver-collected.
  *
  * Durability: every pinned frame here is SLIM (two scalar columns per
  * node/edge) and ITERATED — lineage truncation is the point, so these
  * rounds keep local checkpoints under the r9 criterion's slim-frame
  * carve-out; a lost executor loses a round's blocks.
  */
object Graph {

  /** Ranks after `iters` rounds over directed `edges` (use both
    * directions of an undirected graph). Nodes absent from `edges` (or
    * present only as destinations) are dangling: their mass
    * redistributes uniformly each round, keeping the rank vector a
    * probability distribution. Returns (id, rank) over the full `nodes`
    * universe, UNROUNDED — callers round at their published precision.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               nodes: DataFrame, nodeCol: String,
               iters: Int = 6, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters=$iters must be positive")
    require(damping > 0 && damping < 1, s"damping=$damping out of (0,1)")
    val nPin = Caches.pin(
      nodes.select(col(nodeCol).cast("long").as("id")).distinct(), Level)
    val n = nPin.df
    val nTotal = n.count() // O(1) driver scalar, needed as a literal
    require(nTotal > 0, "pageRank over an empty node set")
    val ePin = Caches.pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct(), Level)
    val e = ePin.df
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eDegPin = Caches.pin(e.join(outDeg, "src"), Level)
    val eDeg = eDegPin.df
    def next(r: DataFrame): DataFrame = {
      val contrib = eDeg
        .join(r.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("in_sum"))
      val dangling = r
        .join(outDeg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      n.join(contrib, Seq("id"), "left")
        .crossJoin(dangling) // 1-row frame
        .select(col("id"),
          (lit((1.0 - damping) / nTotal) + lit(damping) *
            (coalesce(col("in_sum"), lit(0.0)) + col("dm") / nTotal))
            .as("rank"))
    }
    // the uniform start is lazy over n: the first round is round 0
    val (ranks, _) = Rounds.run(
      Caches.pin(next(n.withColumn("rank", lit(1.0 / nTotal))), Level),
      Level, iters - 1)(r => Some(Round(next(r))))
    Seq(nPin, ePin, eDegPin).foreach(_.free(blocking = true))
    ranks.df
  }

  /** Exact triangle count (undirected): canonicalize to (lo, hi)
    * edges, ORIENT each edge from its (degree, id)-smaller endpoint to
    * the larger (a total order, hence acyclic), form wedges at each
    * node over its out-neighbors, and close them against the oriented
    * edge set — the compact-forward / degree-ordered algorithm
    * (Latapy 2008). Each triangle is counted exactly once (its unique
    * out-degree-2 vertex). Degree orientation is the part that
    * matters at 100 TB: a hub of degree D contributes C(D, 2) wedges
    * under id ordering if its id is low, but under degree ordering a
    * hub's out-edges go only to HIGHER-degree nodes, so the wedge
    * count is bounded by Σ min(deg(u), deg(v)) over edges —
    * arboricity-bounded, the difference between quadratic-in-hub-
    * degree and linear-ish on power-law graphs. Two shuffled
    * self-joins; no state beyond the edge list. Returns one row:
    * (n_edges, n_wedges, n_triangles).
    */
  def triangleCount(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    // e and dir are read by the lazy result, so they are session-shared:
    // Caches.release frees them
    val e = Caches.pinShared(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct(), Level)
    val deg = e.select(col("lo").as("v"))
      .unionAll(e.select(col("hi").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient toward the (deg, id)-larger endpoint; carry the head's key
    val dir = Caches.pinShared(e
      .join(deg.select(col("v").as("lo"), col("d").as("dl")), "lo")
      .join(deg.select(col("v").as("hi"), col("d").as("dh")), "hi")
      .select(
        when(struct(col("dl"), col("lo")) < struct(col("dh"), col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(struct(col("dl"), col("lo")) < struct(col("dh"), col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"),
        when(struct(col("dl"), col("lo")) < struct(col("dh"), col("hi")),
          col("dh")).otherwise(col("dl")).as("ddeg")), Level)
    // wedge (src; b, c) with b before c in (deg, id) order — the
    // closing edge, if present, is oriented b→c by the same order
    val wedges = dir.as("e1").join(dir.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.ddeg"), col("e1.dst")) <
            struct(col("e2.ddeg"), col("e2.dst"))))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
    val closed = wedges.join(dir,
      wedges("b") === dir("src") && wedges("c") === dir("dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges")).crossJoin(
        wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with
    * deterministic tie-breaking: every node starts as its own label;
    * each round it adopts its neighbors' most frequent label, ties to
    * the smallest label id. A FIXED round count from that start (the
    * pageRank determinism contract — no RNG, no convergence epsilon,
    * and the asynchronous-update nondeterminism of classic LPA is
    * deliberately traded away) makes every label a pure function of
    * the edge set, so an unrolled SQL oracle replays the propagation
    * round for round. On the near-dup graph, communities resolve
    * finer than connected components: two duplication families joined
    * by one borderline edge keep separate labels, where components
    * would merge them.
    *
    * Scale shape: one edges⋈labels join + two aggregates per round
    * (neighbor-label counts, then a min-struct argmax — both map-side
    * combinable, no sort exchange), shuffled on node id every round;
    * each round is pinned on [[graft.core.Rounds]]. Isolated nodes
    * never appear (label sets are derived from the edge list); union
    * callers' universes in afterwards if singletons matter.
    *
    * Returns (id, label) for every node incident to an edge.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be positive")
    val ePin = Caches.pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .select(explode(array(
        struct(col("lo").as("src"), col("hi").as("dst")),
        struct(col("hi").as("src"), col("lo").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst")), Level)
    val e = ePin.df
    val (lab, _) = Rounds.run(
      Caches.pin(e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label")), Level),
      Level, rounds) { lab =>
      Some(Round(e
        .join(lab.select(col("id").as("dst"), col("label").as("_nl")), "dst")
        .groupBy(col("src"), col("_nl"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("src").as("id"))
        .agg(min(struct((-col("_c")).as("nc"), col("_nl").as("nl"))).as("_m"))
        .select(col("id"), col("_m.nl").as("label"))))
    }
    ePin.free(blocking = true)
    lab.df
  }

  /** k-core of an undirected graph by iterative peeling (Seidman 1983;
    * Batagelj–Zaveršnik's peel order, run level-synchronously): each
    * round drops every node whose current degree is below `k` together
    * with its incident edges, until no node falls below `k` (the
    * fixpoint IS the k-core — the unique maximal subgraph of minimum
    * degree k) or `maxRounds` is hit. On the near-dup similarity
    * graph the 2-core separates genuine duplication families (every
    * member pinned by ≥2 independent matches) from chains of
    * borderline pairwise hits — the band-index noise filter.
    *
    * Determinism: peeling has no tie-breaking — any removal order
    * reaches the same fixpoint, so level-synchronous rounds are safe
    * to oracle round for round. Early exit when a round removes
    * nothing (the remaining rounds would be no-ops, so a generously
    * sized `maxRounds` costs nothing and an unrolled SQL oracle with
    * the same round count agrees on output regardless of where
    * convergence lands).
    *
    * Scale shape: each round is one degree aggregate plus two
    * left joins that mark surviving endpoints, all shuffled on node
    * id — the same key every round — and ONE job: the round is pinned
    * on [[graft.core.Rounds]] with its peeled-edge count observed on
    * that pin. Worst-case round count is the degeneracy peel depth,
    * log-bounded on power-law graphs; the per-round peeled count (one
    * scalar) is the only driver state.
    *
    * Returns (id, core_degree) for surviving nodes — their degree
    * WITHIN the core.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 20): DataFrame =
    kCoreWithStatus(edges, srcCol, dstCol, k, maxRounds)._1

  /** [[kCore]] plus the convergence signal: `_2` is true iff the peel
    * reached its fixpoint within `maxRounds`. When false, the returned
    * frame is a SUPERGRAPH of the true k-core (peeling stopped early —
    * e.g. a pendant chain of ~2·maxRounds nodes at k=2 peels only two
    * ends per round), and the caller decides whether to re-run with a
    * deeper budget or accept the over-approximation. The flag costs
    * nothing extra — it is the loop's round report.
    */
  def kCoreWithStatus(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, maxRounds: Int = 20): (DataFrame, Boolean) = {
    require(k >= 1, s"k=$k must be positive")
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be positive")
    val init = Caches.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct(), Level)
    val (e, report) = Rounds.run(init, Level, maxRounds) { e =>
      val keep = e.select(col("lo").as("v"))
        .unionAll(e.select(col("hi").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("v"), lit(true).as("_k"))
      val marked = e
        .join(keep.select(col("v").as("lo"), col("_k").as("_klo")),
          Seq("lo"), "left")
        .join(keep.select(col("v").as("hi"), col("_k").as("_khi")),
          Seq("hi"), "left")
      val kept = col("_klo").isNotNull && col("_khi").isNotNull
      // changed = edges peeled this round, 0 once none survive (an empty
      // graph is its own fixpoint), observed on the round's pin job
      Some(Round.observed(marked,
        when(count(when(kept, 1)) === 0L, 0L)
          .otherwise(count(when(!kept, 1))))(
        _.where(kept).select(col("lo"), col("hi"))))
    }
    val core = e.df.select(col("lo").as("id"))
      .unionAll(e.df.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("core_degree"))
    (core, report.converged)
  }

  /** Graph frames are slim (two scalar columns per node or edge). */
  private val Level = StorageLevel.MEMORY_AND_DISK
}
