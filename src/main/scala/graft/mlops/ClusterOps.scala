package graft.mlops

import org.apache.spark.mllib.clustering.{KMeans => OldKMeans, KMeansModel => OldKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Clustering + decomposition (SURVEY §2.6).
  *
  * The reference delegated k-means to mllib or ran local sklearn per block
  * (`splearn/cluster/k_means_.py:~L10-70`) and computed truncated SVD from
  * a tree-reduced Gramian (`splearn/decomposition/truncated_svd.py:~L10`).
  * Same decomposition structure here: one corpus pass reduces the d×d
  * Gramian to the driver, and the deterministic eigen solvers (power
  * iteration with deflation, orthogonal iteration) run there as plain
  * arithmetic on it: O(d²) driver state, never O(n). [[fitSvd]] keeps
  * mllib's `RowMatrix` (ARPACK / local Breeze).
  */
object ClusterOps {

  /** One Lloyd assignment step against fixed centers, in long form:
    * points (id, dim, v) × centers (center_id, dim, c) joined on dim,
    * Σ(v-c)² per (id, center), argmin per id. Shuffle cost is one
    * hash-partition of the (small) long-form frames; centers side is
    * broadcast. Fixed deterministic centers make this oracle-able
    * (SURVEY C1/C2).
    *
    * The argmin is `min(struct(dist2, center))` — lexicographic struct
    * ordering IS "lowest dist2, ties to the lowest center id", the same
    * verdict a row_number window would produce, but as an aggregate it
    * gets map-side partial combine (n·k rows shrink before the shuffle)
    * and skips the Sort + Window exchange chain entirely.
    *
    * Dense vector columns go through [[assignCells]] /
    * [[assignToCentersTopN]], in-row, because this form emits
    * |points|·|centers|·d joined rows. The callers left are those whose
    * input really is long form or who read `dist2` — `model_select`'s
    * sparse TF-IDF points, the C1/C2 queries in `MLQueries`
    * (`c1_kmeans_assign`, `ml_score*`),
    * [[graft.similarity.Similarity.ivfDriftReport]]'s increment
    * distances — and one dense site,
    * [[graft.dedup.Dedup.embeddingNearDupCells]] at nProbe = 1: its
    * plan is pinned to equi-joins, and the in-row kernels attach their
    * table through a one-row broadcast nested-loop join.
    */
  def assignToCenters(pointsLong: DataFrame, centersLong: DataFrame,
                      idCol: String, centerCol: String): DataFrame = {
    pointsLong
      .join(broadcast(centersLong), "dim")
      .groupBy(col(idCol), col(centerCol))
      .agg(sum(pow(col("v") - col("c"), 2)).as("dist2"))
      .groupBy(col(idCol))
      .agg(min(struct(col("dist2"), col(centerCol))).as("_m"))
      .select(col(idCol), col(s"_m.$centerCol").as(centerCol),
        col("_m.dist2").as("dist2"))
  }

  /** In-row multi-probe assignment: each point's `n` nearest cells (L2,
    * ties to the lower cell id) via the native `graft_nearest_cells`
    * top-N argmin over the packed broadcast centroid table — the top-N
    * generalization of the nProbe=1 `graft_nearest_cell` path.
    *
    * The long-form formulation this replaces joined point-dims against
    * every centroid's dims — |corpus|·|cells|·d rows through a hash
    * aggregate; at 500k×2048 cells×64d that is ~65 BILLION joined rows
    * (measured ~28 min and an 8 GB OOM in StressBench) while this
    * in-row form is one broadcast + a primitive cells×dims loop per
    * point. Output: (id, cell, probe_rank) with probe_rank 1-based in
    * (d2, cell) order — cell id semantics identical to the SQL twin
    * `row_number() OVER (PARTITION BY id ORDER BY dist2, cell) <= n`.
    */
  def assignToCentersTopN(emb: DataFrame, idCol: String, arrCol: String,
                          centersLong: DataFrame, centerCol: String,
                          n: Int): DataFrame = {
    require(n >= 1, s"nProbe=$n must be >= 1")
    graft.plans.GraftExpressions.register(emb.sparkSession)
    emb.crossJoin(broadcast(packedCells(centersLong, centerCol)))
      .select(col(idCol), posexplode(expr(
        s"graft_nearest_cells(CAST($arrCol AS ARRAY<DOUBLE>), _cells, $n)"))
        .as(Seq("_i", "_cell")))
      .select(col(idCol), col("_cell").as(centerCol),
        (col("_i") + 1).as("probe_rank"))
  }

  /** Each dense vector's `nProbe` nearest cells as (id, cell), in-row
    * over the packed broadcast centroid table: nProbe = 1 through the
    * native graft_nearest_cell argmin, nProbe > 1 through
    * [[assignToCentersTopN]]. The assignment path for dense vectors
    * (IVF search, the cell-gated kNN graph, multi-probe SemDeDup cells,
    * the IVF asset). The long-form join it replaced emitted
    * |corpus|·|cells|·d rows — ~65B at 500k×2048×64d, a 28-minute
    * stage; the in-row form is seconds. Tie rule identical to
    * min(struct(d2, cell)). `cell` is bigint. An empty centroid table
    * or a centroid whose dim count differs from a vector's fails the
    * task ("empty centroid table" / "dim mismatch").
    */
  def assignCells(emb: DataFrame, idCol: String, arrCol: String,
                  centersLong: DataFrame, centerCol: String,
                  nProbe: Int = 1): DataFrame =
    if (nProbe == 1)
      nearestCell(emb, Seq(idCol), arrCol, centersLong, centerCol)
    else
      assignToCentersTopN(emb, idCol, arrCol, centersLong, centerCol, nProbe)
        .select(col(idCol), col(centerCol))

  /** `keep` plus each row's nearest center as `centerCol`: the native
    * `graft_nearest_cell` argmin over [[packedCells]] broadcast, in one
    * map pass (no join, no shuffle). Ties break by lowest cell id,
    * matching the SQL oracles' ORDER BY dist2, cell.
    */
  private[graft] def nearestCell(emb: DataFrame, keep: Seq[String],
                                 arrCol: String, centersLong: DataFrame,
                                 centerCol: String): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    emb.crossJoin(broadcast(packedCells(centersLong, centerCol)))
      .select(keep.map(col) :+
        expr(s"graft_nearest_cell(CAST($arrCol AS ARRAY<DOUBLE>), _cells)")
          .as(centerCol): _*)
  }

  /** The nearest-cell kernels' broadcast table: one row whose `_cells`
    * holds every center as `(cell: bigint, cv)`, `cv` its coordinates in
    * dim order, cells ascending.
    */
  private[graft] def packedCells(centersLong: DataFrame,
                                 centerCol: String): DataFrame =
    centersLong
      .groupBy(col(centerCol))
      .agg(expr(
        "transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
        .as("cv"))
      .agg(expr(
        s"sort_array(collect_list(struct(CAST($centerCol AS BIGINT)" +
          " AS cell, cv)))").as("_cells"))

  /** Deterministic Lloyd's algorithm, `iters` fixed rounds: centers seeded
    * from the k lowest-id points (no RNG), each round re-assigns every
    * point to its nearest center and recomputes centers as coordinate
    * means. Fixed iteration count + deterministic seeding makes the whole
    * fit SQL-mirrorable — the oracled counterpart of RNG-seeded
    * k-means‖.
    *
    * The input is read once: [[PointPack]] packs it one row per id,
    * persisted for the fit. A round is one pass over the pack: the argmin
    * runs in-task against the broadcast centers, and per-task
    * (cid, dim) → (Σ v, n) partials merge on the driver into the next
    * centers. Driver state is the k×dims centers. A point's distance to a
    * center is Σ(v − c)² over the dims both carry; a center sharing no dim
    * with a point is not its candidate, a point with no candidate is not
    * assigned, ties go to the lowest cid, and empty clusters drop out
    * (the SQL twin's inner-join semantics).
    *
    * Returns (cid, dim, c) with `dim` typed as the input's.
    */
  def lloydIterations(pointsLong: DataFrame, idCol: String, k: Int,
                      iters: Int): DataFrame = {
    val spark = pointsLong.sparkSession
    // seed = the k lowest ids by RANK, not by value (`id < k` only works
    // for dense 0-based ids); cid = rank-1, which equals the id itself
    // on dense 0-based ids (what the SQL oracle pins). orderBy+limit
    // plans as TakeOrderedAndProject: O(n) scan, O(k) result.
    val centers = lloydFit(pointsLong, Seq(idCol), iters) { p =>
      p.orderBy(col(idCol)).limit(k).collect().toSeq
        .zipWithIndex.map { case (r, cid) => Center.of(cid, r) }
    }
    val rows = for (c <- centers; i <- c.dims.indices)
      yield Row(c.cid, c.dims(i), c.cs(i))
    // zero rounds return the seeds' own coordinates, typed as the input
    val cType = if (iters == 0) pointsLong.schema("v").dataType else DoubleType
    spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("cid", IntegerType, nullable = false),
        StructField("dim", LongType),
        StructField("c", DoubleType))))
      .select(col("cid"),
        col("dim").cast(pointsLong.schema("dim").dataType).as("dim"),
        col("c").cast(cType).as("c"))
  }

  /** A k-means center: coordinates `cs` at `dims`. */
  private[graft] final case class Center(cid: Int, dims: Array[Long],
                                         cs: Array[Double])

  private[graft] object Center {
    /** The point of a collected pack row as center `cid`. */
    def of(cid: Int, r: Row): Center = Center(cid,
      r.getAs[Seq[Long]]("dims").toArray, r.getAs[Seq[Double]]("vs").toArray)
  }

  /** `iters` Lloyd rounds over `pointsLong` (keys…, dim, v), packed one
    * point per `keys` group ([[PointPack]]), from the centers `seeds`
    * picks off the persisted pack. Returns the final centers. The one
    * Lloyd fit behind [[lloydIterations]],
    * [[graft.similarity.Similarity.pqCodebooks]] and
    * [[graft.similarity.Similarity.retrainIvfIndex]].
    */
  private[graft] def lloydFit(pointsLong: DataFrame, keys: Seq[String],
                              iters: Int)(
      seeds: DataFrame => Seq[Center]): Seq[Center] =
    PointPack.fit(PointPack.pack(pointsLong, keys)) { p =>
      (1 to iters).foldLeft(seeds(p))((cs, _) => lloydRound(p, cs))
    }

  /** One Lloyd round over the pack (keys…, dims, vs). */
  private def lloydRound(packed: DataFrame,
                         centers: Seq[Center]): Seq[Center] = {
    // dim → the centers carrying it, cid ascending
    val byDim = mutable.LongMap.empty[(Array[Int], Array[Double])]
    centers.flatMap(c => c.dims.indices.map(i => (c.dims(i), c.cid, c.cs(i))))
      .groupBy(_._1).foreach { case (d, xs) =>
        val s = xs.sortBy(_._2)
        byDim(d) = (s.map(_._2).toArray, s.map(_._3).toArray)
      }
    val nCid = (centers.map(_.cid) :+ -1).max + 1
    val di = packed.schema.fieldIndex("dims")
    val vi = packed.schema.fieldIndex("vs")
    val bc = packed.sparkSession.sparkContext.broadcast(byDim)
    val sums = try packed.rdd.treeAggregate(
        mutable.HashMap.empty[(Int, Long), Array[Double]])(
      (acc, r) => {
        val ds = PointPack.dims(r, di); val vs = PointPack.vs(r, vi)
        val index = bc.value
        val dist = new Array[Double](nCid)
        val shared = new Array[Boolean](nCid)
        var i = 0
        while (i < ds.length) {
          index.get(ds(i)).foreach { case (cids, cs) =>
            var j = 0
            while (j < cids.length) {
              // StrictMath.pow, as Spark's `pow`
              dist(cids(j)) += StrictMath.pow(vs(i) - cs(j), 2)
              shared(cids(j)) = true; j += 1
            }
          }
          i += 1
        }
        // Double.compare orders NaN last, as SQL's min does
        var best = -1; var c = 0
        while (c < nCid) {
          if (shared(c) &&
              (best < 0 || java.lang.Double.compare(dist(c), dist(best)) < 0))
            best = c
          c += 1
        }
        if (best >= 0) {
          i = 0
          while (i < ds.length) {
            val s = acc.getOrElseUpdate((best, ds(i)), new Array[Double](2))
            s(0) += vs(i); s(1) += 1; i += 1
          }
        }
        acc
      },
      PointPack.mergeSums)
      finally bc.destroy()
    sums.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (cid, xs) =>
      val s = xs.sortBy(_._1._2)
      Center(cid, s.map(_._1._2).toArray, s.map(x => x._2(0) / x._2(1)).toArray)
    }
  }

  /** mllib k-means with EXPLICIT initial centers and a fixed iteration
    * count — the reference's `init=` escape hatch
    * (`splearn/cluster/k_means_.py:~L10`) with the RNG removed entirely:
    * `setInitialModel` skips k-means‖ seeding, `epsilon=0` disables
    * early stop, so the distributed fit is `iters` exact Lloyd updates
    * from caller-supplied seeds and an SQL oracle can replay it update
    * for update. Seeds are O(k·d) driver state (`centersLong` is
    * (cid, dim, c) long form, cid dense 0-based). The returned
    * assignment uses exact squared distance with lowest-cid tie-breaks —
    * the same total order as the SQL `row_number` rule.
    */
  def fitKMeansPinned(df: DataFrame, idCol: String, arrCol: String,
                      centersLong: DataFrame, cidCol: String,
                      iters: Int): DataFrame = {
    val spark = df.sparkSession
    val seedRows = centersLong
      .select(col(cidCol).cast("int"), col("dim").cast("int"),
        col("c").cast("double"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val k = seedRows.map(_._1).distinct.length
    val d = seedRows.map(_._2).max // dims are 1-based
    val mat = Array.fill(k, d)(0.0)
    seedRows.foreach { case (cid, dim, v) => mat(cid)(dim - 1) = v }
    val init = new OldKMeansModel(mat.map(OldVectors.dense))
    val rows = df.select(col(idCol).cast("long"), col(arrCol).cast("array<double>"))
      .rdd.map(r => (r.getLong(0), OldVectors.dense(r.getSeq[Double](1).toArray)))
    rows.persist()
    val model = try new OldKMeans().setK(k).setMaxIterations(iters)
        .setEpsilon(0.0).setInitialModel(init).run(rows.values)
      finally rows.unpersist(blocking = false)
    val bc = spark.sparkContext.broadcast(
      model.clusterCenters.map(_.toArray))
    val assigned = df
      .select(col(idCol).cast("long"), col(arrCol).cast("array<double>"))
      .rdd.map { r =>
        val v = r.getSeq[Double](1).toArray
        val cs = bc.value
        var best = 0; var bd = Double.MaxValue; var i = 0
        while (i < cs.length) {
          var s = 0.0; var j = 0
          while (j < v.length) {
            val diff = v(j) - cs(i)(j); s += diff * diff; j += 1
          }
          if (s < bd) { bd = s; best = i }
          i += 1
        }
        Row(r.getLong(0), best)
      }
    spark.createDataFrame(assigned, StructType(Seq(
      StructField(idCol, LongType), StructField("cid", IntegerType))))
  }

  /** Gramian entries XᵀX[i,j], upper triangle — the reference's
    * `treeReduce(Σ XᵀX)` faithfully: per-partition triangle
    * accumulation + treeAggregate ([[gramianMatrix]]), not the long-form
    * self-join this used to be (which shuffled n·d rows by id and was
    * measured 30× slower at stress scale). `idCol` is accepted for
    * surface uniformity with the sibling operators; the sufficient
    * statistic needs only the vectors.
    */
  def gramian(df: DataFrame, idCol: String, arrCol: String, maxDim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = gramianMatrix(
      df.select(slice(col(arrCol).cast("array<double>"), 1, maxDim).as("_t")),
      "_t")
    (for (i <- g.indices; j <- i until g.length) yield (i + 1, j + 1, g(i)(j)))
      .toDF("di", "dj", "g")
      .select(col("di").as("dim_i"), col("dj").as("dim_j"),
        round(col("g"), 4).as("gram"))
  }

  /** C4 (reference `svd_em`, `splearn/decomposition/truncated_svd.py:~L40`
    * — iterative SVD via EM updates) re-expressed Spark-first as a
    * deterministic POWER ITERATION on the Gramian: v ← G·v / ‖G·v‖ for a
    * FIXED number of rounds from the fixed start e₁. Fixed iterations +
    * fixed start + sign canonicalization (largest-|component| positive,
    * lowest dim on ties) make every output value an arithmetic function
    * of the input — reproducible by an unrolled SQL oracle, which the
    * ARPACK/Breeze path of [[fitSvd]] can never be.
    *
    * Shape: the corpus-proportional work is ONE Gramian pass
    * ([[gramianMatrix]] — per-partition triangle accumulation, no
    * shuffle of the points, ≤partitions×d² bytes merged); the rounds then
    * run on the driver as d×d matrix-vector products — free at any
    * corpus size. Returns (dim, v, sigma): the top right singular vector
    * and σ₁ = sqrt(‖G·v‖).
    */
  def powerIterationTop(df: DataFrame, idCol: String, arrCol: String,
                        iters: Int = 8): DataFrame =
    powerIterationComponents(df, idCol, arrCol, k = 1, iters).drop("comp")

  /** Top-k TRUNCATED SVD, fully deterministic: [[powerIterationTop]]'s
    * fixed-round loop per component, with Hotelling deflation between
    * components — G ← G − λ·v·vᵀ zeroes the found eigenpair, so the next
    * loop converges to the next one. Deflation uses the UNROUNDED vector
    * and λ = ‖G·v‖, so the whole k-component fit stays SQL-oracle-able
    * (the c4_svd_power2 oracle unrolls both loops and the deflation).
    * Zero-norm guard: past the corpus rank, deflation leaves G ≈ 0 and
    * G·v/‖G·v‖ would be 0/0; the component degrades to the zero vector
    * with sigma 0 instead, and the oracle applies the same rule. Returns
    * (comp 1..k, dim, v, sigma), each component sign-canonicalized.
    */
  def powerIterationComponents(df: DataFrame, idCol: String, arrCol: String,
                               k: Int, iters: Int = 8): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(iters >= 1, s"iters=$iters must be positive")
    val g = gramianMatrix(df, arrCol)
    val comps = (1 to k).map { c =>
      val v = subspaceIteration(g, 1, iters).head
      val lam = norm(mul(g, v))
      if (c < k) for (i <- g.indices; j <- g.indices)
        g(i)(j) -= lam * v(i) * v(j)
      (v, lam)
    }
    componentsFrame(df.sparkSession, comps)
  }

  /** Top-k eigenvectors by ORTHOGONAL (subspace) iteration — the block
    * alternative to [[powerIterationComponents]]'s sequential deflation:
    * all k vectors advance together each round (V ← orth(G·V)) and the
    * orthogonalization is MODIFIED Gram-Schmidt — u_c subtracts its
    * projection onto each previous q_j SEQUENTIALLY, re-projecting the
    * RUNNING residual (the numerically stable form: CGS's error grows
    * with κ², MGS's with κ). (At k = 2 there is only one projection, so
    * MGS ≡ CGS; c8_orth_iter3 pins the k=3 MGS unroll.) Deterministic
    * contract matches the deflation path exactly: fixed start
    * V₀ = [e₁…e_k], fixed `iters` rounds, zero-norm guard (a
    * rank-deficient Gramian degrades trailing components to the zero
    * vector, never NaN), per-component sign canonicalization,
    * sigma_c = √‖G·q_c‖ — so the two algorithms' outputs are directly
    * comparable (MLOpsSpec pins agreement).
    *
    * Scale shape: the corpus is touched once (the Gramian pass); every
    * round is O(d²·k) driver arithmetic. Subspace iteration converges on
    * CLUSTERED spectra where one-at-a-time deflation stalls — the reason
    * production SVD solvers (and mllib's ARPACK mode) iterate blocks.
    */
  def orthogonalIteration(df: DataFrame, idCol: String, arrCol: String,
                          k: Int, iters: Int = 8): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(iters >= 1, s"iters=$iters must be positive")
    val g = gramianMatrix(df, arrCol)
    componentsFrame(df.sparkSession,
      subspaceIteration(g, k, iters).map(q => (q, norm(mul(g, q)))))
  }

  /** `iters` rounds of V ← MGS(G·V) from V₀ = [e₁…e_k]: each u_c = G·v_c
    * subtracts r·q_j for j < c in order, r = q_j·u taken against the
    * running residual, then normalizes (zero when its norm is not
    * positive). At k = 1 this is the power iteration.
    */
  private def subspaceIteration(g: Array[Array[Double]], k: Int,
                                iters: Int): Seq[Array[Double]] = {
    val d = g.length
    var v: Seq[Array[Double]] =
      (1 to k).map(c => Array.tabulate(d)(i => if (i + 1 == c) 1.0 else 0.0))
    for (_ <- 1 to iters) {
      val q = mutable.ArrayBuffer.empty[Array[Double]]
      for (u <- v.map(mul(g, _))) {
        for (qj <- q) {
          val r = qj.indices.map(i => qj(i) * u(i)).sum
          for (i <- u.indices) u(i) -= r * qj(i)
        }
        val n = norm(u)
        q += u.map(x => if (n > 0) x / n else 0.0)
      }
      v = q.toSeq
    }
    v
  }

  private def mul(g: Array[Array[Double]], v: Array[Double]): Array[Double] =
    g.map(row => row.indices.map(j => row(j) * v(j)).sum)

  private def norm(w: Array[Double]): Double = math.sqrt(w.map(x => x * x).sum)

  /** (comp, dim, v, sigma) from each component's unrounded vector and
    * λ = ‖G·v‖: the vector sign-canonicalized (its largest |v| made
    * positive, lowest dim on ties) at 6 dp, sigma = √λ at 4 dp.
    */
  private def componentsFrame(spark: SparkSession,
                              comps: Seq[(Array[Double], Double)]): DataFrame = {
    val rows = comps.zipWithIndex.flatMap { case ((v, lam), c) =>
      val top = v.indices.foldLeft(0)((a, b) =>
        if (java.lang.Double.compare(math.abs(v(b)), math.abs(v(a))) > 0) b
        else a)
      val s = if (v.nonEmpty && v(top) < 0) -1.0 else 1.0
      v.indices.map(i => Row(c + 1, i + 1, v(i) * s, math.sqrt(lam)))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("comp", IntegerType, nullable = false),
        StructField("dim", IntegerType, nullable = false),
        StructField("_v", DoubleType), StructField("_s", DoubleType))))
      .select(col("comp"), col("dim"),
        (round(col("_v"), 6) + lit(0.0)).as("v"),
        (round(col("_s"), 4) + lit(0.0)).as("sigma"))
  }

  /** The d×d Gramian Σxxᵀ over the non-null vectors of `arrCol`, on the
    * driver (O(d²) state, same as [[fitSvd]]); 0×0 on an empty input. One
    * pass: per-partition imperative accumulation into a d·(d+1)/2
    * upper-triangle buffer, merged by treeAggregate. This is the one
    * place the declarative forms lose badly: a join or higher-order-
    * function formulation was measured 30× slower at 200k×64 (Spark
    * interprets array lambdas per element; the tight while-loop runs at
    * memory bandwidth). mllib's `RowMatrix.computeGramianMatrix` uses the
    * same shape.
    */
  private def gramianMatrix(df: DataFrame,
                            arrCol: String): Array[Array[Double]] = {
    val acc = df.select(col(arrCol).cast("array<double>"))
      .where(col(arrCol).isNotNull).rdd
      .treeAggregate(Option.empty[(Int, Array[Double])])(
        (acc, r) => {
          val a = r.getSeq[Double](0).toArray
          val part = acc.orElse(
            Some((a.length, new Array[Double](a.length * (a.length + 1) / 2))))
          val (d, tri) = part.get
          require(a.length == d,
            s"ragged vectors: ${a.length} vs $d — Gramian undefined")
          var i = 0; var k = 0
          while (i < d) {
            val ai = a(i); var j = i
            while (j < d) { tri(k) += ai * a(j); j += 1; k += 1 }
            i += 1
          }
          part
        },
        {
          case (Some((d1, a1)), Some((d2, a2))) =>
            require(d1 == d2, s"ragged vectors across partitions: $d1 vs $d2")
            var i = 0
            while (i < a1.length) { a1(i) += a2(i); i += 1 }
            Some((d1, a1))
          case (a, b) => a.orElse(b)
        })
    val (d, tri) = acc.getOrElse((0, Array.empty[Double]))
    val g = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      g(i)(j) = tri(k); g(j)(i) = tri(k); k += 1
    }
    g
  }

  /** Projection of every row onto the [[powerIterationTop]] component:
    * X·v₁ as one broadcast join + per-id aggregation (map-side GEMV —
    * no corpus shuffle beyond the id grouping). The deterministic twin
    * of [[svdProject]]'s first coordinate: same linear map, but the
    * vector comes from the fixed-round iteration, so the whole pipeline
    * (fit AND transform) is SQL-oracle-able. The vector is used at its
    * ROUNDED (6-dp) published precision so engine and oracle project
    * with identical coefficients.
    */
  def powerProjectTop(df: DataFrame, idCol: String, arrCol: String,
                      iters: Int = 8): DataFrame = {
    val v = powerIterationTop(df, idCol, arrCol, iters)
      .select(col("dim"), col("v").as("_pv"))
    val pts = NaiveBayesOps.toLongForm(df, Seq(idCol), arrCol)
    pts.join(broadcast(v), "dim")
      .groupBy(col(idCol))
      .agg(sum(col("v") * col("_pv")).as("pc1"))
  }

  /** Fitted truncated SVD: right singular vectors V (d×k, column-major)
    * and singular values — the engine's `components_` export (reference
    * `SparkTruncatedSVD.fit` stored exactly this,
    * `splearn/decomposition/truncated_svd.py:~L120`). Driver state is
    * O(d·k), never O(n).
    */
  final case class SvdModel(d: Int, k: Int, v: Array[Double], sigma: Array[Double]) {
    /** Column j of V. */
    def component(j: Int): Array[Double] = v.slice(j * d, (j + 1) * d)
  }

  /** Fit a truncated SVD on an array column via `RowMatrix.computeSVD`
    * (local Breeze eig on the Gramian for small d, distributed ARPACK for
    * large d — mllib picks). Each singular vector is SIGN-CANONICALIZED:
    * the component with the largest |value| (lowest index on ties) is made
    * positive. Eigenvector sign is arbitrary in every solver; pinning it
    * makes fits comparable across runs/engines — the rule an SQL oracle
    * can mirror.
    */
  def fitSvd(df: DataFrame, arrCol: String, k: Int): SvdModel = {
    val rows = df.select(col(arrCol).cast("array<double>"))
      .rdd.map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    // ARPACK mode iterates mat-vec products over this RDD; cache for the
    // duration of the (eager) fit only.
    rows.persist()
    val svd = try new RowMatrix(rows).computeSVD(k, computeU = false)
              finally rows.unpersist(blocking = false)
    val d = svd.V.numRows
    val v = svd.V.toArray // d*k col-major
    var j = 0
    while (j < k) {
      var best = 0; var i = 1
      while (i < d) {
        if (math.abs(v(j * d + i)) > math.abs(v(j * d + best))) best = i
        i += 1
      }
      if (v(j * d + best) < 0) {
        i = 0
        while (i < d) { v(j * d + i) = -v(j * d + i); i += 1 }
      }
      j += 1
    }
    SvdModel(d, k, v, svd.s.toArray)
  }

  /** Truncated SVD projection X·V_k per row id (reference
    * `SparkTruncatedSVD.transform`). V is broadcast; the projection is a
    * map-side GEMV — no shuffle, scan-linear at any corpus size.
    */
  def svdProject(df: DataFrame, idCol: String, arrCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val model = fitSvd(df, arrCol, k)
    val vBcast = spark.sparkContext.broadcast(model.v)
    val d = model.d
    val projected = df
      .select(col(idCol).cast("long"), col(arrCol).cast("array<double>"))
      .rdd.map { r =>
        val arr = r.getSeq[Double](1).toArray
        val out = Array.tabulate(k) { j =>
          var s = 0.0; var i = 0
          while (i < d) { s += arr(i) * vBcast.value(j * d + i); i += 1 }
          s
        }
        Row(r.getLong(0), out.toSeq)
      }
    spark.createDataFrame(projected, StructType(Seq(
      StructField(idCol, LongType), StructField("proj", ArrayType(DoubleType)))))
  }
}
