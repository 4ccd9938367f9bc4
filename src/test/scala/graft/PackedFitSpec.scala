package graft

import graft.core.Caches
import graft.mlops.{ClusterOps, LinearOps, NaiveBayesOps}
import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The packed, one-pass-per-round estimators (the three logistic-GD fits,
  * Lloyd k-means and PQ codebooks) and the driver-side eigen solvers
  * (power iteration with deflation, orthogonal iteration) against the
  * relational loops they replace, and the cost properties the packing
  * exists for: the input is read once per fit, and a fit leaves no blocks
  * behind.
  */
class PackedFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // --- the relational reference loops ---

  /** Per round: margins by broadcast join, errors by a label join, the
    * gradient by a join and an aggregation, and an inner join onto the
    * weights; one model per block. Returns (block, dim, w). Test fits run
    * few rounds, so the plan is not truncated.
    */
  private def referenceGdWeights(pointsLong: DataFrame, labels: DataFrame,
                                 idCol: String, blockCol: String,
                                 labelCol: String, iters: Int,
                                 lr: Double): DataFrame = {
    var w = pointsLong.select(col(blockCol), col("dim")).distinct()
      .withColumn("w", lit(0.0))
    (1 to iters).foreach { _ =>
      val margins = pointsLong
        .join(broadcast(w), Seq(blockCol, "dim"))
        .groupBy(col(blockCol), col(idCol))
        .agg(sum(col("v") * col("w")).as("m"))
      val errs = margins.join(labels, idCol)
        .select(col(blockCol), col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col(labelCol)).as("err"))
      val grad = pointsLong.join(errs, Seq(blockCol, idCol))
        .groupBy(col(blockCol), col("dim"))
        .agg(avg(col("err") * col("v")).as("g"))
      w = w.join(grad, Seq(blockCol, "dim"))
        .select(col(blockCol), col("dim"),
          (col("w") - lit(lr) * col("g")).as("w"))
    }
    w
  }

  /** [[referenceGdWeights]] averaged across blocks. */
  private def referenceGd(pointsLong: DataFrame, labels: DataFrame,
                          idCol: String, blockCol: String, labelCol: String,
                          iters: Int, lr: Double): DataFrame =
    referenceGdWeights(pointsLong, labels, idCol, blockCol, labelCol, iters,
        lr)
      .groupBy(col("dim"))
      .agg((round(avg(col("w")), 6) + lit(0.0)).as("w_avg"),
        count(lit(1)).as("n_blocks"))

  /** One-vs-rest: every class's binary problem (y = label is the class)
    * in the same rounds, the class id threaded through the weights like
    * a block id. Returns (cls, dim, w).
    */
  private def referenceOvr(pointsLong: DataFrame, labels: DataFrame,
                           idCol: String, labelCol: String, iters: Int,
                           lr: Double): DataFrame = {
    val classes = labels.select(col(labelCol).as("cls")).distinct()
    val binLabels = labels.crossJoin(broadcast(classes))
      .select(col(idCol), col("cls"),
        (col(labelCol) === col("cls")).cast("double").as("_y"))
    var w = pointsLong.select(col("dim")).distinct()
      .crossJoin(broadcast(classes))
      .select(col("cls"), col("dim"), lit(0.0).as("w"))
    (1 to iters).foreach { _ =>
      val margins = pointsLong
        .join(broadcast(w), "dim")
        .groupBy(col("cls"), col(idCol))
        .agg(sum(col("v") * col("w")).as("m"))
      val errs = margins.join(binLabels, Seq(idCol, "cls"))
        .select(col("cls"), col(idCol),
          (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("_y")).as("err"))
      val grad = pointsLong.join(errs, idCol)
        .groupBy(col("cls"), col("dim"))
        .agg(avg(col("err") * col("v")).as("g"))
      w = w.join(grad, Seq("cls", "dim"))
        .select(col("cls"), col("dim"),
          (col("w") - lit(lr) * col("g")).as("w"))
    }
    w
  }

  /** Per round: assignment by broadcast join and argmin aggregation, then
    * centers by a join and a mean per (cid, dim).
    */
  private def referenceLloyd(pointsLong: DataFrame, idCol: String, k: Int,
                             iters: Int): DataFrame = {
    val seedIds = pointsLong.select(col(idCol)).distinct()
      .orderBy(col(idCol)).limit(k)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col(idCol))) - 1).cast("int"))
    var centers = pointsLong.join(broadcast(seedIds), idCol)
      .select(col("cid"), col("dim"), col("v").as("c"))
    (1 to iters).foreach { _ =>
      val assign = ClusterOps.assignToCenters(pointsLong, centers, idCol, "cid")
        .select(col(idCol), col("cid"))
      centers = pointsLong.join(assign, idCol)
        .groupBy(col("cid"), col("dim"))
        .agg(avg(col("v")).as("c"))
    }
    centers
  }

  /** A round's frame rebuilt from its collected rows: the same values,
    * with the plan cut, so the reference loops need no checkpoint.
    */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Long-form Gramian (di, dj, g) of (id, vec) by the self-join of the
    * points' long form.
    */
  private def referenceGramian(vecs: DataFrame): DataFrame = {
    val l = NaiveBayesOps.toLongForm(vecs, Seq("id"), "vec")
    l.select(col("id"), col("dim").as("di"), col("v").as("vi"))
      .join(l.select(col("id"), col("dim").as("dj"), col("v").as("vj")), "id")
      .groupBy(col("di"), col("dj"))
      .agg(sum(col("vi") * col("vj")).as("g"))
  }

  /** Power iteration per component from e₁ on the long-form Gramian, with
    * Hotelling deflation (unrounded v, λ = ‖G·v‖) between components.
    * Returns (comp, dim, v, sigma).
    */
  private def referencePower(vecs: DataFrame, k: Int,
                             iters: Int): DataFrame = {
    var g = local(referenceGramian(vecs))
    def powerLoop(gc: DataFrame): (DataFrame, DataFrame) = {
      def mul(vcur: DataFrame): DataFrame = gc
        .join(vcur.select(col("dim").as("dj"), col("v").as("pv")), "dj")
        .groupBy(col("di")).agg(sum(col("g") * col("pv")).as("w"))
      var v = gc.select(col("di").as("dim")).distinct()
        .withColumn("v", when(col("dim") === 1, lit(1.0)).otherwise(lit(0.0)))
      for (_ <- 1 to iters) {
        val w = mul(v)
        val n = w.agg(sqrt(sum(col("w") * col("w"))).as("n"))
        v = local(w.crossJoin(n)
          .select(col("di").as("dim"),
            when(col("n") > 0, col("w") / col("n")).otherwise(lit(0.0))
              .as("v")))
      }
      (v, local(mul(v).agg(sqrt(sum(col("w") * col("w"))).as("l"))))
    }
    val outs = (1 to k).map { c =>
      val (v, lam) = powerLoop(g)
      if (c < k) {
        g = local(g
          .join(v.select(col("dim").as("di"), col("v").as("_va")), "di")
          .join(v.select(col("dim").as("dj"), col("v").as("_vb")), "dj")
          .crossJoin(lam)
          .select(col("di"), col("dj"),
            (col("g") - col("l") * col("_va") * col("_vb")).as("g")))
      }
      val sgn = v.orderBy(abs(col("v")).desc, col("dim")).limit(1)
        .select(when(col("v") < 0, -1.0).otherwise(1.0).as("s"))
      v.crossJoin(sgn).crossJoin(lam)
        .select(lit(c).as("comp"), col("dim"),
          (round(col("v") * col("s"), 6) + lit(0.0)).as("v"),
          (round(sqrt(col("l")), 4) + lit(0.0)).as("sigma"))
    }
    outs.reduce(_ unionByName _)
  }

  /** Orthogonal iteration from [e₁…e_k]: per round W = G·V by a join and
    * an aggregation, then modified Gram-Schmidt in comp order against the
    * running residual, each coefficient a one-row aggregate. Returns
    * (comp, dim, v, sigma).
    */
  private def referenceOrth(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val g = local(referenceGramian(vecs))
    def mul(v: DataFrame): DataFrame = g
      .join(v.select(col("dim").as("dj"), col("comp"), col("v").as("pv")), "dj")
      .groupBy(col("di").as("dim"), col("comp"))
      .agg(sum(col("g") * col("pv")).as("w"))
    val comps = spark.range(1, k + 1).selectExpr("CAST(id AS INT) AS comp")
    var v = g.select(col("di").as("dim")).distinct()
      .crossJoin(comps)
      .withColumn("v",
        when(col("dim") === col("comp"), lit(1.0)).otherwise(lit(0.0)))
    for (_ <- 1 to iters) {
      val w = local(mul(v))
      val qList = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (c <- 1 to k) {
        var uc = w.where(col("comp") === c).select(col("dim"), col("w"))
        for (j <- 0 until c - 1) {
          val qj = qList(j).select(col("dim"), col("v"))
          val r = qj.join(uc, "dim")
            .agg(sum(col("v") * col("w")).as("r"))
          uc = local(uc.join(qj, "dim").crossJoin(r)
            .select(col("dim"), (col("w") - col("r") * col("v")).as("w")))
        }
        val n = uc.agg(sqrt(sum(col("w") * col("w"))).as("n"))
        qList += local(uc.crossJoin(n)
          .select(col("dim"), lit(c).as("comp"),
            when(col("n") > 0, col("w") / col("n")).otherwise(lit(0.0))
              .as("v")))
      }
      v = local(qList.reduce(_ unionByName _))
    }
    val lam = mul(v).groupBy(col("comp"))
      .agg(sqrt(sum(col("w") * col("w"))).as("l"))
    val wSgn = Window.partitionBy(col("comp"))
      .orderBy(abs(col("v")).desc, col("dim"))
    val sgn = v.withColumn("_rn", row_number().over(wSgn))
      .where(col("_rn") === 1)
      .select(col("comp"), when(col("v") < 0, -1.0).otherwise(1.0).as("s"))
    v.join(sgn, "comp").join(lam, "comp")
      .select(col("comp"), col("dim"),
        (round(col("v") * col("s"), 6) + lit(0.0)).as("v"),
        (round(sqrt(col("l")), 4) + lit(0.0)).as("sigma"))
  }

  /** PQ codebooks: the ksub lowest ids seed codes 0..ksub-1 in every
    * subspace; per round, each (id, sub) goes to its nearest code by a
    * broadcast join and a min-struct argmin, and codes are the means.
    * Returns (sub, cid, dim, c).
    */
  private def referencePq(emb: DataFrame, dsub: Int, ksub: Int,
                          iters: Int): DataFrame = {
    val pts = NaiveBayesOps.toLongForm(emb, Seq("id"), "vec")
      .withColumn("sub", ((col("dim") - 1) / dsub).cast("int"))
    val seedIds = pts.select(col("id")).distinct()
      .orderBy(col("id")).limit(ksub)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("id"))) - 1).cast("int"))
    var centers = pts.join(broadcast(seedIds), "id")
      .select(col("sub"), col("cid"), col("dim"), col("v").as("c"))
    for (_ <- 1 to iters) {
      val assign = pts
        .join(broadcast(centers.select(col("cid"), col("dim"), col("c"))),
          "dim")
        .groupBy(col("id"), col("sub"), col("cid"))
        .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
        .groupBy(col("id"), col("sub"))
        .agg(min(struct(col("d2"), col("cid"))).as("_m"))
        .select(col("id"), col("sub"), col("_m.cid").as("cid"))
      centers = local(pts.join(assign, Seq("id", "sub"))
        .groupBy(col("sub"), col("cid"), col("dim"))
        .agg(avg(col("v")).as("c")))
    }
    centers
  }

  // --- fixtures ---

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("block", IntegerType), StructField("dim", IntegerType),
    StructField("v", DoubleType)))

  /** Seeded long-form points (id, block, dim, v) over dims 1..6, values in
    * quarters, so every distance sum is exact. Lloyd's k = 4 seeds are ids
    * 0..3: id 2 repeats id 0, so cid 2 ties cid 0 for every point and its
    * cluster empties; id 10 lies exactly between seeds 0 and 1 and goes to
    * cid 0; id 30 carries only dim 7, which no center carries; id 31 has
    * no label, and only it carries dim 8.
    */
  private val rows: Seq[(Long, Int, Double)] = {
    val rnd = new scala.util.Random(7)
    val seeds = Seq((0L, 1, 0.0), (0L, 2, 0.0), (1L, 1, 2.0), (1L, 2, 0.0),
      (2L, 1, 0.0), (2L, 2, 0.0), (3L, 5, 3.0), (3L, 6, 1.0),
      (10L, 1, 1.0), (10L, 2, 0.0), (30L, 7, 1.0), (31L, 8, 2.0),
      (31L, 5, 1.0))
    val random = for {
      id <- (4L to 29L).filter(_ != 10L)
      dim <- rnd.shuffle(Seq(1, 2, 3, 4, 5, 6)).take(2 + rnd.nextInt(3))
    } yield (id, dim, (rnd.nextInt(17) - 8) / 4.0)
    seeds ++ random
  }

  private def points(dimType: DataType = IntegerType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, d, v) => Row(id, (id % 3).toInt, d, v) }, 3),
      schema)
      .withColumn("dim", col("dim").cast(dimType))

  private def labels: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(_._1).distinct.filter(_ != 31L)
      .map(id => Row(id, (id * 7 % 5 % 2).toDouble)), 2),
    StructType(Seq(StructField("id", LongType), StructField("y", DoubleType))))

  /** Three classes over the labelled ids; id 31 stays unlabelled. */
  private def labels3: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(_._1).distinct.filter(_ != 31L)
      .map(id => Row(id, (id * 7 % 5 % 3).toInt)), 2),
    StructType(Seq(StructField("id", LongType),
      StructField("y3", IntegerType))))

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType))))

  private def vectors(vs: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map { case (id, v) => Row(id, v) }, 3), vecSchema)

  /** Seeded 5-dim vectors in quarters. */
  private val denseRows: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(11)
    (0L until 40L).map(id => (id, Seq.fill(5)((rnd.nextInt(17) - 8) / 4.0)))
  }

  /** 4-dim vectors on dims 1 and 2 only: G = diag(5, 10, 0, 0), so a
    * third component has nothing left and hits the zero-norm guard.
    */
  private val rankTwoRows: Seq[(Long, Seq[Double])] = Seq(
    (0L, Seq(2.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)),
    (2L, Seq(1.0, 0.0, 0.0, 0.0)), (3L, Seq(0.0, 3.0, 0.0, 0.0)))

  /** 4-dim vectors in quarters for PQ with dsub = 2, ksub = 3: id 2
    * repeats id 0 in subspace 0, so code 2 ties code 0 there for every
    * point and empties; id 10 lies at distance 1 from all three seeds in
    * both subspaces, an exact tie that goes to code 0.
    */
  private val pqRows: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(5)
    Seq((0L, Seq(0.0, 0.0, 0.0, 0.0)), (1L, Seq(2.0, 0.0, 0.0, 2.0)),
      (2L, Seq(0.0, 0.0, 1.0, 1.0)), (10L, Seq(1.0, 0.0, 0.0, 1.0))) ++
      (3L to 29L).filter(_ != 10L)
        .map(id => (id, Seq.fill(4)((rnd.nextInt(17) - 8) / 4.0)))
  }

  private def columns(df: DataFrame): Seq[(String, DataType)] =
    df.schema.map(f => (f.name, f.dataType))

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def roundedW(df: DataFrame): DataFrame =
    df.withColumn("w", round(col("w"), 6) + lit(0.0))

  private def roundedCenters(df: DataFrame): DataFrame =
    df.select(col("cid"), col("dim"), (round(col("c"), 4) + lit(0.0)).as("c"))

  // --- specs ---

  test("block-averaged GD equals the relational loop") {
    for (dimType <- Seq(IntegerType, LongType); iters <- Seq(0, 1, 3)) {
      val pts = points(dimType)
      val got = LinearOps.blockAveragedLogisticGd(pts, labels, "id", "block",
        "y", iters, lr = 0.5)
      val want = referenceGd(pts, labels, "id", "block", "y", iters, lr = 0.5)
      assert(columns(got) === columns(want), s"$dimType iters=$iters")
      assert(sorted(got) === sorted(want), s"$dimType iters=$iters")
      val dims = got.collect().map(_.get(0).toString.toInt).toSet
      // zero rounds: a zero weight for every (block, dim), the unlabelled
      // point's too; a round drops the dim only it carries
      if (iters == 0) {
        assert(got.collect().forall(_.getDouble(1) == 0.0))
        assert(got.agg(sum(col("n_blocks"))).head().getLong(0) ===
          pts.select("block", "dim").distinct().count())
        assert(dims.contains(8))
      } else assert(!dims.contains(8))
    }
  }

  test("logistic GD and its one-vs-rest twin equal the relational loops") {
    for (dimType <- Seq(IntegerType, LongType); iters <- Seq(0, 1, 3)) {
      val pts = points(dimType)
      val tag = s"$dimType iters=$iters"
      val got = LinearOps.logisticGdIterations(pts.drop("block"), labels,
        "id", "y", iters, lr = 0.5)
      val want = referenceGdWeights(pts.withColumn("block", lit(0)), labels,
        "id", "block", "y", iters, lr = 0.5).drop("block")
      assert(columns(got) === columns(want), tag)
      assert(sorted(roundedW(got)) === sorted(roundedW(want)), tag)

      val ovr = LinearOps.logisticGdOvr(pts.drop("block"), labels3, "id",
        "y3", iters, lr = 0.5)
      val ovrWant = referenceOvr(pts.drop("block"), labels3, "id", "y3",
        iters, lr = 0.5)
      assert(columns(ovr) === columns(ovrWant), tag)
      assert(sorted(roundedW(ovr)) === sorted(roundedW(ovrWant)), tag)
      assert(ovr.select("cls").distinct().count() === 3L, tag)
      // zero rounds: a zero weight for every (class, dim), the unlabelled
      // point's dim 8 too; a round drops the dim only it carries
      val dims = ovr.collect().map(_.get(1).toString.toInt).toSet
      if (iters == 0) {
        assert(got.collect().forall(_.getDouble(1) == 0.0), tag)
        assert(ovr.count() === 3L * pts.select("dim").distinct().count(), tag)
        assert(dims.contains(8), tag)
      } else assert(!dims.contains(8), tag)
    }
  }

  test("Lloyd equals the relational loop: ties, empty clusters, " +
    "unassignable points") {
    for (dimType <- Seq(IntegerType, LongType); iters <- Seq(0, 1, 3)) {
      val pts = points(dimType).drop("block")
      val got = ClusterOps.lloydIterations(pts, "id", k = 4, iters)
      val want = referenceLloyd(pts, "id", k = 4, iters)
      assert(columns(got) === columns(want), s"$dimType iters=$iters")
      assert(sorted(roundedCenters(got)) === sorted(roundedCenters(want)),
        s"$dimType iters=$iters")
      val cids = got.select("cid").distinct().collect().map(_.getInt(0)).toSet
      if (iters == 0) {
        assert(cids === Set(0, 1, 2, 3))
        assert(sorted(got) === sorted(pts.where(col("id") < 4)
          .select(col("id").cast("int").as("cid"), col("dim"),
            col("v").as("c"))))
      } else {
        // cid 2 ties cid 0 everywhere, so its cluster empties in round 1
        assert(cids.nonEmpty && !cids.contains(2))
        // no center carries dim 7, so its only point is never assigned
        assert(got.where(col("dim") === 7).isEmpty)
      }
    }
  }

  test("power iteration, deflation and orthogonal iteration equal the " +
    "relational loops") {
    val empty = vectors(Nil)
    for ((name, vs) <- Seq("dense" -> vectors(denseRows),
           "rank-two" -> vectors(rankTwoRows), "empty" -> empty);
         k <- Seq(1, 2, 3); iters <- Seq(1, 8)) {
      val tag = s"$name k=$k iters=$iters"
      val power = ClusterOps.powerIterationComponents(vs, "id", "vec", k, iters)
      val powerWant = referencePower(vs, k, iters)
      assert(columns(power) === columns(powerWant), tag)
      assert(sorted(power) === sorted(powerWant), tag)
      val orth = ClusterOps.orthogonalIteration(vs, "id", "vec", k, iters)
      val orthWant = referenceOrth(vs, k, iters)
      assert(columns(orth) === columns(orthWant), tag)
      assert(sorted(orth) === sorted(orthWant), tag)
      val d = vs.head(1).headOption.map(_.getSeq[Double](1).length).getOrElse(0)
      assert(power.count() === (k * d).toLong, tag)
      if (name == "rank-two" && k == 3)
        for (out <- Seq(power, orth))
          assert(out.where(col("comp") === 3).collect()
            .forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0), tag)
    }
    assert(ClusterOps.powerIterationTop(empty, "id", "vec").isEmpty)
  }

  test("PQ codebooks equal the relational loop: ties and an emptied code") {
    val emb = vectors(pqRows)
    for (iters <- Seq(1, 3)) {
      val got = Similarity.pqCodebooks(emb, "id", "vec", dsub = 2, ksub = 3,
        iters)
      val want = referencePq(emb, dsub = 2, ksub = 3, iters)
      def rounded(df: DataFrame) = df.withColumn("c", round(col("c"), 4) + lit(0.0))
      assert(columns(got) === columns(want), s"iters=$iters")
      assert(sorted(rounded(got)) === sorted(rounded(want)), s"iters=$iters")
      // code 2 ties code 0 everywhere in subspace 0, so it empties there
      val sub0 = got.where(col("sub") === 0).select("cid").distinct()
        .collect().map(_.getInt(0)).toSet
      assert(sub0 === Set(0, 1), s"iters=$iters")
    }
  }

  test("a fit reads its input once and leaves no blocks behind") {
    val sc = spark.sparkContext
    for (fit <- Seq("gd", "gd-iterations", "gd-ovr", "lloyd", "power",
                    "orth", "pq", "kcenter")) {
      val reads = sc.longAccumulator(s"reads-$fit")
      val counted = udf { (v: Double) => reads.add(1); v }
      val pts = points().withColumn("v", counted(col("v")))
      // nondeterministic, so the optimizer never evaluates it twice a row
      val countedVec = udf { (v: Seq[Double]) => reads.add(1); v }
        .asNondeterministic()
      val vs = vectors(pqRows).withColumn("vec", countedVec(col("vec")))
      val rddsBefore = sc.getPersistentRDDs.keySet
      val trackedBefore = Caches.trackedCount(spark)
      val (out, inputRows) = fit match {
        case "gd" => (LinearOps.blockAveragedLogisticGd(pts, labels, "id",
          "block", "y", iters = 3, lr = 0.5), rows.size)
        case "gd-iterations" => (LinearOps.logisticGdIterations(pts, labels,
          "id", "y", iters = 3, lr = 0.5), rows.size)
        case "gd-ovr" => (LinearOps.logisticGdOvr(pts, labels3, "id", "y3",
          iters = 3, lr = 0.5), rows.size)
        case "lloyd" =>
          (ClusterOps.lloydIterations(pts, "id", k = 4, iters = 3), rows.size)
        case "power" => (ClusterOps.powerIterationComponents(vs, "id", "vec",
          k = 2, iters = 3), pqRows.size)
        case "orth" => (ClusterOps.orthogonalIteration(vs, "id", "vec", k = 2,
          iters = 3), pqRows.size)
        case "pq" => (Similarity.pqCodebooks(vs, "id", "vec", dsub = 2,
          ksub = 3, iters = 3), pqRows.size)
        // re-reads its persisted points every round by design
        case _ => (Similarity.kCenterCoreset(vs, "id", "vec", k = 4), -1)
      }
      assert(out.collect().nonEmpty, fit)
      if (inputRows >= 0) assert(reads.value === inputRows.toLong, fit)
      assert(sc.getPersistentRDDs.keySet === rddsBefore, fit)
      assert(Caches.trackedCount(spark) === trackedBefore, fit)
    }
  }
}
