package graft.mlops

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Linear models (SURVEY §2.4).
  *
  * The reference averaged per-block sklearn fits
  * (`splearn/linear_model/base.py:~L10-80`, parameter averaging) — a
  * one-shot approximation. The engine uses two strictly stronger paths:
  *
  *  - closed-form 1-D OLS from distributed moments (covar_pop/var_pop),
  *    a single aggregation — and exactly SQL-oracle-able;
  *  - `spark.ml` L-BFGS/OWL-QN global optimizers for the general case
  *    (iterative `treeAggregate` of gradients — the distributed pattern
  *    the reference's averaging approximated).
  */
object LinearOps {

  /** 1-D ordinary least squares: slope = covar_pop(x,y)/var_pop(x),
    * intercept = avg(y) - slope*avg(x). One scan, one reduce.
    */
  def olsFit(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.agg(
      covar_pop(col(xCol), col(yCol)).as("_cxy"),
      var_pop(col(xCol)).as("_vx"),
      avg(col(xCol)).as("_mx"),
      avg(col(yCol)).as("_my"))
      .select(
        round(col("_cxy") / col("_vx"), 6).as("slope"),
        round(col("_my") - col("_cxy") / col("_vx") * col("_mx"), 6).as("intercept"))

  /** MANY-MODELS OLS: one independent 1-D fit per group, in a single
    * scan — the grouped sufficient statistics (n, Σx, Σy, Σx², Σxy,
    * Σy²) are one map-side-combinable aggregation, and every group's
    * slope/intercept/R² falls out in closed form. The pattern that
    * replaces "loop over groups, fit each" at 100 TB: a million
    * per-entity models cost exactly one shuffle keyed by the group.
    * Degenerate groups (zero x-variance) yield NULL slope rather than
    * a division error; R² guards zero y-variance the same way.
    */
  def olsFitGrouped(df: DataFrame, groupCol: Column, xCol: Column,
                    yCol: Column): DataFrame =
    df.groupBy(groupCol.as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(xCol).as("_sx"), sum(yCol).as("_sy"),
        sum(xCol * xCol).as("_sxx"), sum(xCol * yCol).as("_sxy"),
        sum(yCol * yCol).as("_syy"))
      .select(col("grp"), col("n"),
        (round(
          (col("n") * col("_sxy") - col("_sx") * col("_sy")) /
            nullif(col("n") * col("_sxx") - col("_sx") * col("_sx"),
              lit(0.0)), 6) + lit(0.0)).as("slope"),
        (round(
          (col("_sy") - (col("n") * col("_sxy") - col("_sx") * col("_sy")) /
            nullif(col("n") * col("_sxx") - col("_sx") * col("_sx"),
              lit(0.0)) * col("_sx")) / col("n"), 6) + lit(0.0))
          .as("intercept"),
        (round(
          pow(col("n") * col("_sxy") - col("_sx") * col("_sy"), 2) /
            nullif((col("n") * col("_sxx") - col("_sx") * col("_sx")) *
              (col("n") * col("_syy") - col("_sy") * col("_sy")),
              lit(0.0)), 6) + lit(0.0)).as("r2"))

  /** Apply a 1-row (slope, intercept) frame to score rows: broadcast join,
    * no collect — the reference's broadcast-model predict
    * (`splearn/linear_model/base.py:~L80`) without driver round-trips.
    */
  def olsPredict(df: DataFrame, fit: DataFrame, xCol: String): DataFrame =
    df.crossJoin(broadcast(fit))
      .withColumn("prediction",
        round(col("intercept") + col("slope") * col(xCol), 4))

  /** Reference-faithful L1 semantics (`SparkLinearModelMixin.__add__`,
    * `splearn/linear_model/base.py:~L10-80`): fit one model per block,
    * average the parameters. Expressed relationally — per-block closed-form
    * OLS from block-local moments, then an unweighted average across
    * blocks — so the one-shot approximation the reference shipped is
    * itself oracle-checkable. `blockIdCol` rows must already carry a
    * block id (see [[graft.operators.Blocking]]).
    *
    * Kept alongside [[olsFit]] deliberately: the global fit is strictly
    * stronger; this documents (and tests) exactly what the reference's
    * averaging computes, including its bias on heterogeneous blocks.
    */
  def blockAveragedOlsFit(df: DataFrame, blockIdCol: String,
                          xCol: String, yCol: String): DataFrame =
    df.groupBy(col(blockIdCol))
      .agg(
        covar_pop(col(xCol), col(yCol)).as("_cxy"),
        var_pop(col(xCol)).as("_vx"),
        avg(col(xCol)).as("_mx"),
        avg(col(yCol)).as("_my"))
      .select(
        (col("_cxy") / col("_vx")).as("_slope"),
        (col("_my") - col("_cxy") / col("_vx") * col("_mx")).as("_icept"))
      .agg(
        round(avg(col("_slope")), 6).as("slope_avg"),
        round(avg(col("_icept")), 6).as("intercept_avg"),
        count(lit(1)).as("n_blocks"))

  /** L1 classification completeness — the reference's block-averaged
    * LOGISTIC fit (`splearn/linear_model/logistic.py:~L10-60`:
    * per-block `fit` then `__add__` = parameter average). Each block
    * runs the same deterministic zero-init full-batch GD as
    * [[logisticGdIterations]], all blocks at once, then coefficients
    * average unweighted across blocks: the reference's one-shot merge
    * algebra, including its bias on heterogeneous blocks (the global
    * [[fitLogisticPredictNative]] stays the strictly-stronger path, as with
    * [[blockAveragedOlsFit]]).
    *
    * The input is read once: [[PointPack]] packs it one row per
    * (block, id) with the label joined in, and [[gdFit]] runs the rounds
    * keyed by block. Driver state is the blocks×dims weights.
    *
    * Returns (dim, w_avg, n_blocks), `dim` typed as the input's. Fully
    * SQL-oracle-able: fixed iterations, no RNG, no intercept.
    */
  def blockAveragedLogisticGd(pointsLong: DataFrame, labels: DataFrame,
                              idCol: String, blockCol: String,
                              labelCol: String, iters: Int,
                              lr: Double): DataFrame = {
    val packed = labelledPack(pointsLong, labels, Seq(blockCol, idCol),
        idCol, col(labelCol).cast("double"))
      .select(col(blockCol).as("_k"), col("_y"), col("dims"), col("vs"))
    val w = PointPack.fit(packed)(gdFit(_, iters, lr))
    weightFrame(pointsLong, w,
        StructField("_k", pointsLong.schema(blockCol).dataType))
      .groupBy(col("dim"))
      .agg((round(avg(col("w")), 6) + lit(0.0)).as("w_avg"),
        count(lit(1)).as("n_blocks"))
  }

  /** Deterministic batch gradient descent for logistic regression:
    * weights start at zero, `iters` full-batch steps of rate `lr`, no
    * intercept, no RNG — so the entire fit is SQL-expressible and
    * oracle-checkable step for step (the iterative twin of the ml
    * L-BFGS `fitLogisticPredictNative`, whose line search isn't
    * mirrorable).
    *
    * The input is read once: [[PointPack]] packs it one row per id with
    * the label joined in, and [[gdFit]] runs the rounds under one
    * constant key. Driver state is the O(dims) weights.
    *
    * Returns (dim, w) as a driver-built frame, `dim` typed as the
    * input's.
    */
  def logisticGdIterations(pointsLong: DataFrame, labels: DataFrame,
                           idCol: String, labelCol: String,
                           iters: Int, lr: Double): DataFrame = {
    val packed = labelledPack(pointsLong, labels, Seq(idCol), idCol,
        col(labelCol).cast("double"))
      .select(lit(0).as("_k"), col("_y"), col("dims"), col("vs"))
    val w = PointPack.fit(packed)(gdFit(_, iters, lr))
    weightFrame(pointsLong, w, StructField("_k", IntegerType))
      .select(col("dim"), col("w"))
  }

  /** ONE-VS-REST multiclass for the deterministic GD family — the
    * reference's `SGDClassifier.fit(classes=…)` semantics
    * (`splearn/linear_model/stochastic_gradient.py:~L10-70`: sklearn
    * SGD is multiclass via OvR). Every class's binary problem trains
    * in the same rounds, keyed by class the way
    * [[blockAveragedLogisticGd]] keys by block — never a driver loop
    * over classes. Weights zero-init, `iters` full-batch steps, rate
    * `lr`, no intercept, no RNG: the whole fit unrolls into a SQL oracle
    * with `cls` threaded through every CTE.
    *
    * The classes are the labels' distinct values, collected once. The
    * pack holds one row per id with its label; each round fans a point
    * out in-row to every class with y = (label = cls), so the persisted
    * pack does not grow with the class count.
    *
    * Returns (cls, dim, w) as a driver-built frame, `cls` typed as the
    * label and `dim` as the input's. Driver state is the classes×dims
    * weights.
    */
  def logisticGdOvr(pointsLong: DataFrame, labels: DataFrame,
                    idCol: String, labelCol: String,
                    iters: Int, lr: Double): DataFrame = {
    val clsType = labels.schema(labelCol).dataType
    val classes = array(labels.select(col(labelCol)).distinct().collect()
      .map(r => lit(r.get(0))).toSeq: _*).cast(ArrayType(clsType))
    val packed = labelledPack(pointsLong, labels, Seq(idCol), idCol,
        col(labelCol))
      .select(col("_y"), col("dims"), col("vs"))
    val w = PointPack.fit(packed) { p =>
      gdFit(p.withColumn("_k", explode(classes))
        .select(col("_k"), (col("_y") === col("_k")).cast("double").as("_y"),
          col("dims"), col("vs")), iters, lr)
    }
    weightFrame(pointsLong, w, StructField("cls", clsType))
  }

  /** `pointsLong` packed one row per `keys` group ([[PointPack.pack]]),
    * with `y` of the row's `idCol` left-joined in as `_y`: null for an
    * unlabelled point.
    */
  private def labelledPack(pointsLong: DataFrame, labels: DataFrame,
                           keys: Seq[String], idCol: String,
                           y: Column): DataFrame =
    PointPack.pack(pointsLong, keys)
      .join(labels.select(col(idCol), y.as("_y")), Seq(idCol), "left")

  /** The logistic-GD fit over a pack of (_k, _y, dims, vs) rows: `iters`
    * [[gdRound]]s from zero weights, one model per key. With `iters` = 0
    * every (key, dim) a point carries gets w = 0, unlabelled points'
    * too; a round keeps only the (key, dim)s some labelled point
    * carries.
    */
  private def gdFit(packed: DataFrame, iters: Int,
                    lr: Double): Map[(Any, Long), Double] =
    if (iters == 0)
      packed.select(col("_k"), explode(col("dims"))).distinct().collect()
        .map(r => (r.get(0), r.getLong(1)) -> 0.0).toMap
    else (1 to iters).foldLeft(Map.empty[(Any, Long), Double]) {
      (w, _) => gdRound(packed, w, lr)
    }

  /** One GD round over the pack (key, y, dims, vs), all keys at once:
    * each point's margin is computed in-row against the broadcast
    * (key, dim) → w map, err = σ(m) − y per labelled point
    * (StrictMath.exp, as Spark's `exp`), per-task (key, dim) →
    * (Σ err·v, n) partials merge on the driver, then w' = w − lr·Σ/n.
    */
  private def gdRound(packed: DataFrame, w: Map[(Any, Long), Double],
                      lr: Double): Map[(Any, Long), Double] = {
    val bw = packed.sparkSession.sparkContext.broadcast(w)
    val grad = try packed.rdd.treeAggregate(
        mutable.HashMap.empty[(Any, Long), Array[Double]])(
      (acc, r) => {
        if (!r.isNullAt(1)) {
          val b = r.get(0); val y = r.getDouble(1)
          val ds = PointPack.dims(r, 2); val vs = PointPack.vs(r, 3)
          val wb = bw.value
          var m = 0.0; var i = 0
          while (i < ds.length) {
            m += vs(i) * wb.getOrElse((b, ds(i)), 0.0); i += 1
          }
          val err = 1.0 / (1.0 + StrictMath.exp(-m)) - y
          i = 0
          while (i < ds.length) {
            val s = acc.getOrElseUpdate((b, ds(i)), new Array[Double](2))
            s(0) += err * vs(i); s(1) += 1; i += 1
          }
        }
        acc
      },
      PointPack.mergeSums)
      finally bw.destroy()
    grad.iterator.map { case (k, s) =>
      k -> (w.getOrElse(k, 0.0) - lr * (s(0) / s(1)))
    }.toMap
  }

  /** The fit's (key, dim) → w as a driver-built (key, dim, w) frame,
    * `dim` typed as `pointsLong`'s.
    */
  private def weightFrame(pointsLong: DataFrame, w: Map[(Any, Long), Double],
                          key: StructField): DataFrame =
    pointsLong.sparkSession.createDataFrame(
        w.iterator.map { case ((k, d), x) => Row(k, d, x) }.toSeq.asJava,
        StructType(Seq(key, StructField("dim", LongType),
          StructField("w", DoubleType))))
      .select(col(key.name),
        col("dim").cast(pointsLong.schema("dim").dataType).as("dim"),
        col("w"))

  // --- General-d OLS: generated (d+1)×(d+1) Cramer over the normal equations ---
  //
  // The determinant expansions are GENERATED (recursive Laplace along the
  // first row) as SQL text over the moment column names, and the SAME
  // text is evaluated by Spark (`expr`) and by the DuckDB oracle — both
  // engines parse one string into one arithmetic tree, so the FP
  // evaluation order is pinned by construction, not by hand-keeping two
  // 24-term expansions in sync.

  /** Laplace expansion of det(m) as SQL text, m given as rows of column
    * names / sub-expressions.
    */
  private[graft] def detSql(m: Vector[Vector[String]]): String =
    if (m.length == 1) m(0)(0)
    else m(0).indices.map { j =>
      val minor = m.tail.map(row => row.take(j) ++ row.drop(j + 1))
      val term = s"${m(0)(j)} * (${detSql(minor)})"
      if (j % 2 == 0) s"+ $term" else s"- $term"
    }.mkString(" ").stripPrefix("+ ")

  /** Moment-column name for normal-equations entry (i, j), 0 = the
    * intercept column: n, s<i>, s<ij> (i<=j).
    */
  private def mName(i: Int, j: Int): String = {
    val (a, b) = (math.min(i, j), math.max(i, j))
    if (a == 0 && b == 0) "n"
    else if (a == 0) s"s$b"
    else s"s$a$b"
  }

  private[graft] def olsMatrix(d: Int): Vector[Vector[String]] =
    Vector.tabulate(d + 1, d + 1)(mName)

  private[graft] def olsRhs(d: Int): Vector[String] =
    Vector.tabulate(d + 1)(i => if (i == 0) "sy" else s"s${i}y")

  private[graft] def olsBetaSql(d: Int, j: Int): String =
    detSql(olsMatrix(d).zipWithIndex.map { case (row, i) =>
      row.updated(j, olsRhs(d)(i))
    })

  /** The (d+1)(d+4)/2 sufficient statistics of y ~ 1 + x1 + … + xd as
    * one aggregation; names follow the [[mName]]/[[olsRhs]] contract
    * shared with the oracle SQL.
    */
  private[graft] def olsMomentAggs(xs: Seq[Column], y: Column): Seq[Column] = {
    val d = xs.size
    Seq(count(lit(1)).cast("double").as("n")) ++
      (1 to d).map(i => sum(xs(i - 1)).as(s"s$i")) ++
      Seq(sum(y).as("sy")) ++
      (for (i <- 1 to d; j <- i to d)
        yield sum(xs(i - 1) * xs(j - 1)).as(s"s$i$j")) ++
      (1 to d).map(i => sum(xs(i - 1) * y).as(s"s${i}y"))
  }

  /** General-d OLS with intercept, closed form: one linear pass for the
    * sufficient statistics, then generated Cramer's rule on the
    * (d+1)×(d+1) normal equations in-row. The determinant SQL text is
    * the SAME string Spark and the oracle parse, so FP evaluation order
    * is pinned by construction at every d. Laplace expansion is
    * O((d+1)!) terms — fine through d≈5; beyond that use `fitLinear`
    * (solver="normal", Cholesky) whose cost is O(d³). One generator for
    * every d, as the reference's linear models take any number of
    * features through one class (`splearn/linear_model/base.py:~L100`).
    */
  def olsFitN(df: DataFrame, xCols: Seq[String], yCol: String,
              roundTo: Int = 4): DataFrame = {
    val d = xCols.size
    require(d >= 1 && d <= 5, s"d=$d out of closed-form range 1..5")
    val betas = (0 to d).map { j =>
      // + 0.0 canonicalizes -0.0 (repo-wide round rule); nullif guards
      // the singular (collinear-features) case identically across
      // engines — Spark non-ANSI x/0 is NULL, DuckDB is inf/nan.
      expr(s"round((${olsBetaSql(d, j)}) / " +
        s"nullif((${detSql(olsMatrix(d))}), 0), $roundTo) + 0.0").as(s"b$j")
    }
    val m = olsMomentAggs(
      xCols.map(c => col(c).cast("double")), col(yCol).cast("double"))
    df.agg(m.head, m.tail: _*).select(betas: _*)
  }

  /** OvR predict: per-row margins against every class's weight vector
    * (one broadcast join + one aggregation), argmax by (margin DESC,
    * cls ASC) for determinism. Returns (idCol, pred, margin) with the
    * winning margin rounded to `roundTo`.
    */
  def logisticOvrPredict(pointsLong: DataFrame, weights: DataFrame,
                         idCol: String, roundTo: Int = 4): DataFrame = {
    val margins = pointsLong
      .join(broadcast(weights), "dim")
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("v") * col("w")).as("m"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("m").desc, col("cls"))
    margins.withColumn("_rn", row_number().over(win))
      .where(col("_rn") === 1)
      .select(col(idCol), col("cls").as("pred"),
        (round(col("m"), roundTo) + lit(0.0)).as("margin"))
  }

  /** OvR predict_proba (upstream `splearn/linear_model/logistic.py`
    * exposes predict_proba on the logistic family): per-class sigmoid
    * of the margin, normalized across classes — sklearn's
    * OneVsRestClassifier convention. Long form (idCol, cls, proba);
    * the normalizing sum is a per-id window over ≤ n_classes rows,
    * never corpus-sized. Calibrated probabilities are what a scored
    * curation gate thresholds — argmax alone loses the margin.
    */
  def logisticOvrProba(pointsLong: DataFrame, weights: DataFrame,
                       idCol: String, roundTo: Int = 6): DataFrame = {
    val margins = pointsLong
      .join(broadcast(weights), "dim")
      .groupBy(col(idCol), col("cls"))
      .agg(sum(col("v") * col("w")).as("m"))
    val wid = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
    margins
      .withColumn("_s", lit(1.0) / (lit(1.0) + exp(-col("m"))))
      .select(col(idCol), col("cls"),
        (round(col("_s") / sum(col("_s")).over(wid), roundTo) + lit(0.0))
          .as("proba"))
  }

  /** Weighted 1-D OLS — sklearn's `sample_weight` for the closed-form
    * family (upstream estimators pass it straight to sklearn per block;
    * `splearn/linear_model/base.py`). Weighted moments in ONE pass:
    * slope = (Σw·Σwxy − Σwx·Σwy) / (Σw·Σwxx − (Σwx)²), intercept =
    * (Σwy − slope·Σwx)/Σw. Integer weights reproduce exactly the fit
    * on a row-replicated corpus (w ≡ repeat count); a weight column of
    * ones reproduces [[olsFit]] (MLOpsSpec pins both). The natural
    * cable for the DSIR/temperature outputs this library computes:
    * fit on the mixture-reweighted corpus without materializing it.
    */
  def olsFitWeighted(df: DataFrame, xCol: String, yCol: String,
                     wCol: String, roundTo: Int = 4): DataFrame = {
    val slope = (col("sw") * col("swxy") - col("swx") * col("swy")) /
      nullif(col("sw") * col("swxx") - col("swx") * col("swx"), lit(0.0))
    df.agg(
      sum(col(wCol)).as("sw"),
      sum(col(wCol) * col(xCol)).as("swx"),
      sum(col(wCol) * col(yCol)).as("swy"),
      sum(col(wCol) * col(xCol) * col(xCol)).as("swxx"),
      sum(col(wCol) * col(xCol) * col(yCol)).as("swxy"))
      .select(
        (round(slope, roundTo) + lit(0.0)).as("slope"),
        (round((col("swy") - slope * col("swx")) / col("sw"), roundTo)
          + lit(0.0)).as("intercept"))
  }

  /** L-BFGS fit + NATIVE-expression predict: the model's coefficients
    * come back to the driver (O(d) doubles) and the margin/prediction/
    * probability are computed with codegen'd array expressions instead
    * of `model.transform`'s vector UDF. Two reasons: (a) the UDF closure
    * serializes the model object, whose training-summary DataFrame
    * chains to the shared SparkSession — under a concurrent query that
    * has an `Observation` registered (the components family), task
    * serialization hits the non-serializable ObservationManager (seen
    * deterministically in the multithreaded Verify harness); a
    * coefficients literal has no object graph at all. (b) the whole
    * scoring stage stays inside WholeStageCodegen — no ml vector
    * boxing on the hot path, which is the shape that scales to a wide
    * corpus scan. Binary prediction threshold 0.5 == margin > 0.
    */
  def fitLogisticPredictNative(df: DataFrame, featuresArr: String,
                               labelCol: String, maxIter: Int = 20): DataFrame = {
    val prepared = df.withColumn("features",
      array_to_vector(col(featuresArr).cast("array<double>")))
    val model = new LogisticRegression()
      .setMaxIter(maxIter).setLabelCol(labelCol).setFeaturesCol("features")
      .fit(prepared)
    val coef = model.coefficients.toArray
    val margin = coef.zipWithIndex.foldLeft(lit(model.intercept)) {
      case (acc, (w, i)) =>
        if (w == 0.0) acc
        else acc + lit(w) * element_at(col(featuresArr), i + 1).cast("double")
    }
    df.withColumn("margin", margin)
      .withColumn("prediction", (col("margin") > 0).cast("double"))
      .withColumn("probability", lit(1.0) / (lit(1.0) + exp(-col("margin"))))
  }

  /** spark.ml linear regression (multi-feature). Default solver "normal"
    * solves the normal equations exactly (WLS/Cholesky over one pass of
    * sufficient statistics — deterministic, so the fit is oracle-checkable
    * against the closed-form Cramer SQL); pass "l-bfgs" for the iterative
    * path when d is too large for the d×d normal matrix.
    */
  def fitLinear(df: DataFrame, featureCols: Seq[String], labelCol: String,
                solver: String = "normal"): DataFrame = {
    val prepared = df.withColumn("features",
      array_to_vector(array(featureCols.map(c => col(c).cast("double")): _*)))
    val model = new LinearRegression()
      .setLabelCol(labelCol).setFeaturesCol("features").setSolver(solver)
      .fit(prepared)
    prepared.sparkSession.createDataFrame(
      Seq((model.intercept, model.coefficients.toArray.toSeq))
    ).toDF("intercept", "coefficients")
  }
}
