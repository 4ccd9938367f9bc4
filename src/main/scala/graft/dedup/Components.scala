package graft.dedup

import graft.core.{Caches, Round, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over candidate-pair edges — the cluster-resolution
  * step of a dedup pipeline: near-duplicate PAIRS (from banding, simhash
  * blocks, or cosine) become duplicate CLUSTERS, and each cluster keeps
  * one canonical survivor.
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts as its own component (label = own id); each round a node first
  * adopts the minimum label among itself and its neighbors, then
  * shortcuts to its label's label (path halving). The shortcut makes the
  * label graph's depth collapse geometrically, so rounds needed are
  * O(log diameter) rather than O(diameter) — a 1M-node chain converges
  * in ~20 rounds instead of 1M. Deterministic — labels are ids, min is
  * total, and the fixpoint (min reachable id) is scheme-independent.
  *
  * 100 TB notes: each round is one join + one groupBy (shuffle on node
  * id); each round is pinned on [[graft.core.Rounds]], which truncates
  * the lineage so plan size and stage retries stay O(1) instead of
  * O(iterations) — the classic iterative-DataFrame failure mode.
  * Convergence is detected by counting changed labels (an O(nodes) agg
  * observed on the round's pin, not a collect). Dedup clusters are
  * short chains (diameter rarely exceeds single digits), so the loop is
  * bounded in practice; `maxIter` is the safety stop.
  */
object Components {

  /** Adjacency-row count (2×edges after dedup) BELOW which the label
    * loop is replaced by a driver-side union-find over the collected
    * edge list (r22, the r21-deferred rung): a bench-scale graph
    * (thousands of edges) pays ~25 SEQUENTIAL 1-task barrier stages —
    * join + groupBy + 2 joins + observe + eager checkpoint per round —
    * where the same fixpoint is microseconds of driver CPU on a
    * ≤32 MB collect. Above the threshold the checkpointed loop (the
    * 100 TB path) runs unchanged — StressBench's 20M-edge stage never
    * sees the driver path. The collect is bounded by construction: two
    * primitive `long[]` per partition, threshold × 16 bytes ≤ ~32 MB
    * against the 8g driver heap; the forest adds a sorted `long[]` of
    * node ids and an `int[]` of parents, ≤ 12 bytes per row.
    */
  private val DriverUfThreshold = 2000000L

  /** Driver-side min-label union-find over a collected (src, dst)
    * adjacency, one pair of primitive arrays per partition — the exact
    * fixpoint [[connectedComponents]]'s loop reaches: comp(id) = min node
    * id reachable from id. Nodes are indexed by their rank in the sorted
    * id array, so a lower index is a lower id: union by min root keeps
    * every root its tree's minimum, and path halving keeps the forest
    * shallow. Returns (ids, comps), ids ascending.
    */
  private def driverUnionFind(
      adj: Array[(Array[Long], Array[Long])]): (Array[Long], Array[Long]) = {
    // the adjacency carries both directions of every edge, so every node
    // is a src: the node set is the distinct srcs
    val ids = Array.concat(adj.map(_._1).toSeq: _*)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { // path halving
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    adj.foreach { case (src, dst) =>
      i = 0
      while (i < src.length) {
        val ra = find(index(src(i))); val rb = find(index(dst(i)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 1
      }
    }
    val comps = new Array[Long](n)
    i = 0
    while (i < n) { comps(i) = ids(find(i)); i += 1 }
    (java.util.Arrays.copyOf(ids, n), comps)
  }

  /** Edges (aCol, bCol) → (id, component) with component = min node id
    * reachable. Nodes are the ids present in edges; isolated docs are
    * their own component and can be unioned in by the caller.
    *
    * Throws if `maxIter` rounds pass without a fixpoint — silently
    * returning partially-propagated labels would split real clusters
    * with no signal. Note `maxIter` INCLUDES the final zero-change
    * confirmation round (the fixpoint is only known once a round
    * changes nothing), so the label-improvement budget is maxIter-1
    * rounds — with pointer jumping that still covers any graph of
    * diameter up to ~2^(maxIter-1), so the throw only fires on a
    * genuine bug.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          onRounds: Int => Unit = _ => ()): DataFrame =
    resolve(edges, aCol, bCol, maxIter, onRounds, DriverUfThreshold)

  /** [[connectedComponents]] with the driver union-find cutoff as an
    * argument: `driverUfBelow = 0` runs the label loop on any graph, which
    * is how specs pin the loop against the union-find on small graphs.
    */
  private[graft] def resolve(edges: DataFrame, aCol: String, bCol: String,
                             maxIter: Int, onRounds: Int => Unit,
                             driverUfBelow: Long): DataFrame = {

    // The adjacency (both directions of every edge) is the loop's
    // biggest relation and every round joins it on dst. Materialize it
    // once; DISK_ONLY because each round streams it exactly once —
    // holding 2×|edges| rows in storage memory for the whole loop
    // starved an 8g heap at 20M+ edges (UNABLE_TO_ACQUIRE_MEMORY).
    val adjPin = Caches.pin(edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .distinct(), StorageLevel.DISK_ONLY)
    val adjBase = adjPin.df
    val nAdjRows = adjBase.count()
    // Small-graph rung (r22): the fixpoint of min-label propagation is
    // plain connected components, so below the threshold compute it
    // driver-side from the already-materialized checkpoint (one collect
    // of slim long pairs) instead of paying the loop's per-round
    // barrier stages. Identical output by definition of the fixpoint
    // (comp = min reachable id, the label loop's invariant);
    // DedupSimilaritySpec pins both paths against each other.
    if (nAdjRows < driverUfBelow) {
      val spark = edges.sparkSession
      import spark.implicits._
      val (ids, comps) = driverUnionFind(
        adjBase.select(col("src"), col("dst")).rdd.mapPartitions { it =>
          val src = Array.newBuilder[Long]; val dst = Array.newBuilder[Long]
          it.foreach { r => src += r.getLong(0); dst += r.getLong(1) }
          Iterator.single((src.result(), dst.result()))
        }.collect())
      adjPin.free(blocking = true)
      onRounds(0) // no distributed rounds ran
      // ship the labels as primitive slices; tuples exist only in tasks
      val slices = math.max(1, spark.sparkContext.defaultParallelism / 4)
      val chunk = math.max(1, (ids.length + slices - 1) / slices)
      return spark.sparkContext
        .parallelize(ids.grouped(chunk).zip(comps.grouped(chunk)).toSeq, slices)
        .flatMap { case (is, cs) => is.iterator.zip(cs.iterator) }
        .toDF("id", "comp")
    }
    // Past the cutoff the loop's dominant cost is re-shuffling +
    // re-sorting the adjacency for EVERY round's sort-merge join (a
    // checkpointed frame has UnknownPartitioning under AQE, so Catalyst
    // must exchange it each time). Rebuild it as a hash-partitioned,
    // per-partition-sorted CACHE: a cached plan keeps
    // outputPartitioning/outputOrdering visible to consumers (AQE is
    // disabled inside cached subplans by default —
    // canChangeCachedPlanOutputPartitioning=false), so every round's
    // adj⋈labels join reuses the layout — zero exchange and zero sort on
    // the 2×|edges| side, per round. Measured at 22.5M edges / 10
    // rounds: 305s → 189s (and 2M edges: 15.2s → 10.6s). The base
    // checkpoint stays resident behind the cache for the loop's lifetime
    // (it IS the cache's recompute source — localCheckpoint truncated the
    // lineage above it): 2× the adjacency on disk, zero extra memory,
    // freed together at the end.
    val adj = adjBase
      .repartition(col("dst"))
      .sortWithinPartitions(col("dst"))
      .persist(StorageLevel.DISK_ONLY)
    // Label checkpoints store SERIALIZED: the deserialized MEMORY_AND_DISK
    // default holds every label row as an object (~70B for a 2-long row
    // vs ~20B serialized). With two round-frames resident plus join
    // execution memory, deserialized labels put the 22.5M-node stress
    // graph within GC-timing distance of an 8g heap — the same run would
    // pass or OOM depending on ambient load. Serialized blocks are ~3×
    // smaller and unroll incrementally.
    val labelLevel = StorageLevel.MEMORY_AND_DISK_SER
    // Initial label = min(id, min neighbor): the first propagate round's
    // result from ONE groupBy over adj (both directions are present, so
    // every node is a src) — no join, and one fewer loop round. The loop
    // still runs to a zero-change fixpoint, so labels are unaffected.
    val init = Caches.pin(adj
      .groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("_nmin")).as("comp")), labelLevel)
    // One propagate-and-jump step, lazily composed: adopt the min label
    // among self and neighbors, then pointer-jump to the label's label
    // (path halving — depth of the label forest collapses geometrically).
    // Labels are node ids and label(id) <= id, so the self-join always
    // resolves. Output: (id, comp = step input label, next = new label).
    def step(c: DataFrame): DataFrame = {
      val neighborMin = adj
        .join(c.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src"))
        .agg(min(col("comp")).as("ncomp"))
      val propagated = c
        .join(neighborMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("half"))
      val labelOfLabel = propagated
        .select(col("id").as("half"), col("half").as("jump"))
      propagated
        .join(labelOfLabel, Seq("half"))
        .select(col("id"), col("comp"),
          least(col("half"), col("jump")).as("next"))
    }
    // Each round is pinned on Rounds, the round before freed: at graph
    // scale (20M+ edges → ~0.5 GB of label blocks PER ROUND) leaving
    // ~11 rounds resident starves execution memory — the 20M-edge
    // StressBench stage died with UNABLE_TO_ACQUIRE_MEMORY before rounds
    // were freed. The changed-label count rides the round's pin via
    // observe(): ONE job per round instead of checkpoint + count.
    // (Composing TWO lazy steps per barrier was measured SLOWER — 3.6s
    // vs 2.9s on the pipeline capstone — the doubled join DAG per job
    // costs more than the barrier it saves.)
    val (comp, report) = Rounds.run(init, labelLevel, maxIter) { c =>
      Some(Round.observed(step(c),
        sum(when(col("next") < col("comp"), 1L).otherwise(0L)))(
        _.select(col("id"), col("next").as("comp"))))
    }
    if (!report.converged) throw new IllegalStateException(
      s"connectedComponents: no fixpoint after $maxIter rounds — " +
        "labels would be wrong (clusters split); raise maxIter")
    // diagnostic: rounds INCLUDING the zero-change confirm
    onRounds(report.rounds)
    // The adjacency served only the loop; the returned frame is the LAST
    // round's checkpoint (kept resident).
    adj.unpersist(blocking = true)
    adjPin.free(blocking = true)
    comp.df
  }

  /** Components over the union of `nodes` and the edge endpoints: every
    * id in `nodes` gets a row (ids touching no edge become their own
    * singleton component — closing the caller footgun of
    * [[connectedComponents]], whose node set is edge endpoints only),
    * and endpoints OUTSIDE `nodes` stay visible too (see the full-outer
    * rationale below). One full-outer join after the fixpoint loop; the
    * loop itself still runs on the (typically much smaller)
    * edge-endpoint set.
    */
  def connectedComponentsAll(edges: DataFrame, aCol: String, bCol: String,
                             nodes: DataFrame, nodeCol: String,
                             maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(edges, aCol, bCol, maxIter)
    // Output universe = nodes ∪ edge endpoints. Restricting to `nodes`
    // alone would silently DROP endpoints outside it — and if the
    // dropped endpoint was a cluster's min id, the cluster would keep a
    // component label pointing at a vanished node and no member would
    // carry is_survivor=1 (a downstream keep-survivors filter then
    // deletes every copy). Edge ids outside the declared universe are a
    // caller inconsistency; keeping them visible is the diagnosable
    // behavior, losing them is not.
    nodes.select(col(nodeCol).cast("long").as("id")).distinct()
      .join(comp, Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Components plus survivor marking: within each cluster the minimum id
    * is the canonical copy (`is_survivor`), everything else is a
    * removable duplicate.
    */
  def dedupClusters(edges: DataFrame, aCol: String, bCol: String,
                    onRounds: Int => Unit = _ => ()): DataFrame =
    connectedComponents(edges, aCol, bCol, onRounds = onRounds)
      .withColumn("is_survivor", (col("id") === col("comp")).cast("int"))

  /** [[dedupClusters]] over the full node universe: isolated nodes are
    * singleton clusters (their own survivor) rather than absent.
    */
  def dedupClustersAll(edges: DataFrame, aCol: String, bCol: String,
                       nodes: DataFrame, nodeCol: String): DataFrame =
    connectedComponentsAll(edges, aCol, bCol, nodes, nodeCol)
      .withColumn("is_survivor", (col("id") === col("comp")).cast("int"))

  /** Clusters over provenance-tagged edges (id_a, id_b, src): components
    * on the distinct pair set, plus per-cluster `sources` — the sorted
    * distinct detector tags (e.g. "exact,minhash") whose edges touch the
    * cluster. Which detector found a duplicate matters operationally
    * (exact is certain, cosine is a judgment call), so the tag set rides
    * with every cluster instead of being lost in the union.
    *
    * Scale: provenance aggregation is one distinct + groupBy on
    * (comp, src) — O(edges) with tiny cardinality per group — and the
    * cluster-size window and source join both shuffle on comp, the same
    * key the components loop already used.
    */
  def provenanceClusters(edgesProv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The tagged edge set fans out to BOTH the components loop and the
    // provenance aggregation — materialize it once or every detector
    // (minhash banding, simhash blocking, cosine pairs) runs twice.
    // Corpus-proportional → DISK_ONLY blocks (r9 criterion).
    // localCheckpoint(eager), not a lazy persist (r22, Drill-measured):
    // the consumers launch several jobs whose subtrees all reference
    // this frame, and racing a lazy persist they re-ran the whole
    // four-detector union up to 5x (the 97-task union map stage
    // appeared five times per execution, each dragging a multi-second
    // task-binary deserialization of the giant detector plan). Eager =
    // one detector pass; the truncated lineage also shrinks every
    // later consumer's task binary to a checkpoint scan. Blocks land
    // at the AQE-coalesced width; Caches.release frees them.
    val edges = Caches.pinShared(edgesProv, StorageLevel.DISK_ONLY)
    val comp = dedupClusters(
      edges.select(col("id_a"), col("id_b")).distinct(), "id_a", "id_b")
    val clusterSrc = edges
      .join(comp.select(col("id").as("id_a"), col("comp")), "id_a")
      .select(col("comp"), col("src")).distinct()
      .groupBy(col("comp"))
      .agg(concat_ws(",", sort_array(collect_set(col("src")))).as("sources"))
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))))
      .join(clusterSrc, "comp")
      .select(col("id"), col("comp"), col("is_survivor"),
        col("cluster_size"), col("sources"))
  }

  /** End-to-end corpus dedup: exact-duplicate edges ∪ banded-minhash
    * near-dup edges → connected components → one canonical survivor per
    * cluster. Returns (id, component, is_survivor) — filter
    * `is_survivor = 1` for the deduplicated corpus.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exact = Dedup.exactPairs(docs, idCol, textCol)
    val sh = Dedup.shingles(docs, idCol, textCol)
    val near = Dedup.minhashBandCandidates(
      Dedup.minhashSignatures(sh, idCol), idCol)
    dedupClusters(exact.union(near).distinct(), "id_a", "id_b")
  }
}
