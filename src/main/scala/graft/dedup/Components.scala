package graft.dedup

import graft.core.Caches
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
  * id); `localCheckpoint` truncates the lineage each round so plan size
  * and stage retries stay O(1) instead of O(iterations) — the classic
  * iterative-DataFrame failure mode. Convergence is detected by counting
  * changed labels (an O(nodes) agg, not a collect). Dedup clusters are
  * short chains (diameter rarely exceeds single digits), so the loop is
  * bounded in practice; `maxIter` is the safety stop.
  */
object Components {

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
  /** Edge count above which the adjacency is rebuilt as a
    * partitioning-preserving cache (see connectedComponents). Tunable
    * for tests/benchmarks via -Dgraft.components.adjPartitionThreshold.
    */
  private def adjPartitionThreshold: Long =
    sys.props.get("graft.components.adjPartitionThreshold")
      .orElse(sys.env.get("GRAFT_ADJ_PARTITION_THRESHOLD"))
      .map(_.toLong).getOrElse(1000000L)

  /** Adjacency-row count (2×edges after dedup) BELOW which the label
    * loop is replaced by a driver-side union-find over the collected
    * edge list (r22, the r21-deferred rung): a bench-scale graph
    * (thousands of edges) pays ~25 SEQUENTIAL 1-task barrier stages —
    * join + groupBy + 2 joins + observe + eager checkpoint per round —
    * where the same fixpoint is microseconds of driver CPU on a
    * ≤32 MB collect. Above the threshold the checkpointed loop (the
    * 100 TB path) runs unchanged — StressBench's 20M-edge stage never
    * sees the driver path. The collect is bounded by construction:
    * threshold × 16 bytes ≤ ~32 MB against the 8g driver heap.
    * Tunable via -Dgraft.components.driverUfThreshold (tests pin both
    * paths against each other through it).
    */
  private def driverUfThreshold: Long =
    sys.props.get("graft.components.driverUfThreshold")
      .orElse(sys.env.get("GRAFT_DRIVER_UF_THRESHOLD"))
      .map(_.toLong).getOrElse(2000000L)

  /** Driver-side min-label union-find over a collected (src, dst)
    * adjacency — the exact fixpoint [[connectedComponents]]'s loop
    * reaches: comp(id) = min node id reachable from id. Path-halving
    * find + union by min root keeps the forest shallow; the final pass
    * maps every node to its root's minimum member, which IS the root
    * (roots are always the minimum of their tree by the union rule).
    */
  private def driverUnionFind(adj: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](adj.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    var i = 0
    while (i < adj.length) {
      val (a, b) = adj(i)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // min id becomes the root → root = min of its tree
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      i += 1
    }
    // node set = every endpoint (adjacency carries both directions, so
    // every node appears as src; dst included for safety at zero cost)
    val seen = new java.util.HashSet[Long](adj.length * 2)
    val out = Array.newBuilder[(Long, Long)]
    i = 0
    while (i < adj.length) {
      val (a, b) = adj(i)
      if (seen.add(a)) out += ((a, find(a)))
      if (seen.add(b)) out += ((b, find(b)))
      i += 1
    }
    out.result()
  }

  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          onRounds: Int => Unit = _ => ()): DataFrame = {

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
    // Past ~1M edges the loop's dominant cost is re-shuffling + re-sorting
    // the adjacency for EVERY round's sort-merge join (a checkpointed
    // frame has UnknownPartitioning under AQE, so Catalyst must exchange
    // it each time). Rebuild it as a hash-partitioned, per-partition-
    // sorted CACHE: a cached plan keeps outputPartitioning/outputOrdering
    // visible to consumers (AQE is disabled inside cached subplans by
    // default — canChangeCachedPlanOutputPartitioning=false), so every
    // round's adj⋈labels join reuses the layout — zero exchange and zero
    // sort on the 2×|edges| side, per round. Measured at 22.5M edges /
    // 10 rounds: 305s → 189s (and 2M edges: 15.2s → 10.6s). Below the
    // threshold the extra build shuffle + columnar cache write costs more
    // than the ~3 rounds of tiny exchanges it saves (~1.4× on the sf0.1
    // bench graphs), so small graphs keep the plain checkpoint. The
    // count is free — it streams the already-materialized checkpoint.
    // The base checkpoint stays resident behind the cache for the loop's
    // lifetime (it IS the cache's recompute source — localCheckpoint
    // truncated the lineage above it): 2× the adjacency on disk, zero
    // extra memory, freed together at the end.
    val nAdjRows = adjBase.count()
    // Small-graph rung (r22): the fixpoint of min-label propagation is
    // plain connected components, so below the threshold compute it
    // driver-side from the already-materialized checkpoint (one collect
    // of slim long pairs) instead of paying the loop's per-round
    // barrier stages. Identical output by definition of the fixpoint
    // (comp = min reachable id, the label loop's invariant);
    // ComponentsSpec pins both paths against each other.
    if (nAdjRows < driverUfThreshold) {
      val spark = edges.sparkSession
      import spark.implicits._
      val labels = driverUnionFind(
        adjBase.select(col("src"), col("dst")).as[(Long, Long)].collect())
      adjPin.free(blocking = true)
      onRounds(0) // no distributed rounds ran
      return spark.createDataset(
        spark.sparkContext.parallelize(labels.toIndexedSeq,
          math.max(1, spark.sparkContext.defaultParallelism / 4)))
        .toDF("id", "comp")
    }
    val adj =
      if (nAdjRows < adjPartitionThreshold) adjBase
      else adjBase
        .repartition(col("dst"))
        .sortWithinPartitions(col("dst"))
        .persist(StorageLevel.DISK_ONLY)
    // Label checkpoints store SERIALIZED on large graphs: the default
    // deserialized MEMORY_AND_DISK holds every label row as an object
    // (~70B for a 2-long row vs ~20B serialized). With two round-frames
    // resident plus join execution memory, deserialized labels put the
    // 22.5M-node stress graph within GC-timing distance of an 8g heap —
    // the same run would pass or OOM depending on ambient load.
    // Serialized blocks are ~3× smaller and unroll incrementally. Below
    // the same threshold that gates the adjacency cache, the per-round
    // serialize/deserialize CPU outweighs the heap it saves (measured:
    // unconditional SER cost dedup_provenance_clusters 3.5→5.0s at
    // sf0.1), so small graphs keep the deserialized default.
    val labelLevel =
      if (nAdjRows < adjPartitionThreshold) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.MEMORY_AND_DISK_SER
    // Initial label = min(id, min neighbor): the first propagate round's
    // result from ONE groupBy over adj (both directions are present, so
    // every node is a src) — no join, and one fewer loop round. The loop
    // still runs to a zero-change fixpoint, so labels are unaffected.
    // The round's checkpointed label frame: nothing references the
    // previous one once the next round's checkpoint exists, but its
    // blocks stay in storage memory until explicitly freed. At graph
    // scale (20M+ edges → ~0.5 GB of label blocks PER ROUND) leaving
    // ~11 rounds resident starves execution memory — the 20M-edge
    // StressBench stage died with UNABLE_TO_ACQUIRE_MEMORY before this
    // free.
    var cur = Caches.pin(adj
      .groupBy(col("src"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("_nmin")).as("comp")), labelLevel)
    var comp = cur.df
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
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // The convergence count rides the checkpoint materialization via
      // observe(): ONE job per round instead of checkpoint + count.
      // (Composing TWO lazy steps per barrier was measured SLOWER —
      // 3.6s vs 2.9s on the pipeline capstone — the doubled join DAG
      // per job costs more than the barrier it saves.)
      val obs = org.apache.spark.sql.Observation()
      val updated = Caches.pin(step(comp)
        .observe(obs,
          sum(when(col("next") < col("comp"), 1L).otherwise(0L))
            .as("changed")), labelLevel)
      val changed = obs.get("changed").asInstanceOf[Long]
      comp = updated.df.select(col("id"), col("next").as("comp"))
      // The new checkpoint is materialized (pin is eager), so the
      // previous round's blocks are now unreachable — free them.
      cur.free(blocking = true)
      cur = updated
      converged = changed == 0
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: no fixpoint after $maxIter rounds — " +
        "labels would be wrong (clusters split); raise maxIter")
    onRounds(i) // diagnostic: rounds INCLUDING the zero-change confirm
    // The adjacency served only the loop; the returned frame is a
    // projection of the LAST round's checkpoint (kept resident).
    if (!(adj eq adjBase)) adj.unpersist(blocking = true)
    adjPin.free(blocking = true)
    comp
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
}
