package graft

import graft.core.Caches
import graft.mlops.{ClusterOps, LinearOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The packed, one-pass-per-round estimators (the three logistic-GD fits
  * and Lloyd k-means) against the relational loops they replace, and the
  * cost properties the packing exists for: the input is read once per
  * fit, and a fit leaves no blocks behind.
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

  test("a fit reads its input once and leaves no blocks behind") {
    val sc = spark.sparkContext
    for (fit <- Seq("gd", "gd-iterations", "gd-ovr", "lloyd")) {
      val reads = sc.longAccumulator(s"reads-$fit")
      val counted = udf { (v: Double) => reads.add(1); v }
      val pts = points().withColumn("v", counted(col("v")))
      val rddsBefore = sc.getPersistentRDDs.keySet
      val trackedBefore = Caches.trackedCount(spark)
      val out = fit match {
        case "gd" => LinearOps.blockAveragedLogisticGd(pts, labels, "id",
          "block", "y", iters = 3, lr = 0.5)
        case "gd-iterations" => LinearOps.logisticGdIterations(pts, labels,
          "id", "y", iters = 3, lr = 0.5)
        case "gd-ovr" => LinearOps.logisticGdOvr(pts, labels3, "id", "y3",
          iters = 3, lr = 0.5)
        case _ => ClusterOps.lloydIterations(pts, "id", k = 4, iters = 3)
      }
      assert(out.collect().nonEmpty, fit)
      assert(reads.value === rows.size.toLong, fit)
      assert(sc.getPersistentRDDs.keySet === rddsBefore, fit)
      assert(Caches.trackedCount(spark) === trackedBefore, fit)
    }
  }
}
