package graft.mlops

import graft.functions.GraftFunctions
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Composition / meta-operators (SURVEY §2.7): the reference's
  * `SparkPipeline` / `SparkFeatureUnion` / `SparkGridSearchCV`
  * (`splearn/pipeline.py`, `splearn/grid_search.py`) map 1:1 onto
  * `ml.Pipeline` / `VectorAssembler` / `CrossValidator`; nothing custom is
  * required — these wrappers pin the engine's API and defaults.
  *
  * Scale note: `CrossValidator.setParallelism(p)` runs candidate fits as
  * concurrent jobs — the fan-out the reference drove with a driver loop
  * over the param grid.
  */
object Composition {

  def pipeline(stages: PipelineStage*): Pipeline =
    new Pipeline().setStages(stages.toArray)

  /** P2 FeatureUnion (`splearn/pipeline.py:~L150`): run transformers over
    * the same input and horizontally stack outputs — `VectorAssembler` is
    * the exact Spark equivalent of the reference's per-block `hstack`.
    */
  def featureUnion(inputCols: Seq[String], outputCol: String = "features")
      : org.apache.spark.ml.feature.VectorAssembler =
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(inputCols.toArray).setOutputCol(outputCol)

  /** P2 with `transformer_weights` (upstream FeatureUnion supports a
    * per-transformer scalar): each stacked block is scaled by its
    * weight before the hstack — pure per-row arithmetic prepended to
    * the assembler, zero shuffle. A zero weight zeroes its block (the
    * block keeps its width; it does NOT drop), matching sklearn.
    */
  def featureUnionWeighted(df: DataFrame, inputCols: Seq[String],
                           weights: Seq[Double],
                           outputCol: String = "features"): DataFrame = {
    require(inputCols.nonEmpty && inputCols.size == weights.size,
      s"${inputCols.size} cols vs ${weights.size} weights")
    val scaledNames = inputCols.map(c => s"_w_$c")
    val scaled = inputCols.zip(weights).map { case (c, w) =>
      (org.apache.spark.sql.functions.col(c) * w).as(s"_w_$c")
    }
    val withScaled = df.select(
      df.columns.map(org.apache.spark.sql.functions.col).toSeq ++ scaled: _*)
    new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(scaledNames.toArray).setOutputCol(outputCol)
      .transform(withScaled)
      .drop(scaledNames: _*)
  }

  def fitPipeline(df: DataFrame, stages: PipelineStage*): PipelineModel =
    pipeline(stages: _*).fit(df)

  /** P4 as a fully deterministic, SQL-mirrorable plan: k-fold
    * cross-validated univariate ridge regression. Folds are md5-assigned
    * from `keyCol` (engine-portable, retry-stable — the same hash family
    * as [[graft.operators.Sampling.assignSplit]]); each grid point's fit
    * is CLOSED FORM on sufficient statistics (slope = centered covariance
    * over centered variance + λ, intercept unpenalized), so every number
    * is reproducible by a SQL oracle — the property the seeded-but-
    * platform-dependent L-BFGS path of [[gridSearchLogistic]] can't give.
    *
    * Shape: ONE pass aggregates per-fold sufficient stats (k rows);
    * train-side stats for fold i are totals − fold i (no per-fold rescan
    * — leave-one-fold-out by complement); models are a k×|grid| broadcast
    * row set; evaluation is one more pass joining each row to its
    * held-out fold's models. Two linear scans total, independent of grid
    * size — at 100 TB the grid costs nothing beyond the tiny model join.
    *
    * Returns one row per grid point: (grid_idx, lambda, avg_mse), the
    * cross-validated mean squared error averaged over all held-out rows.
    */
  def cvRidgeUnivariate(df: DataFrame, keyCol: Column, xCol: Column,
                        yCol: Column, lambdas: Seq[Double],
                        k: Int = 3): DataFrame = {
    require(k >= 2, s"k=$k folds must be at least 2")
    require(lambdas.nonEmpty, "empty lambda grid")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
      pmod(GraftFunctions.md5Long(keyCol.cast("string"), 8), lit(k)).as("fold"),
      xCol.cast("double").as("x"), yCol.cast("double").as("y"))
    val foldStats = rows.groupBy(col("fold")).agg(
      count(lit(1)).cast("double").as("fn"),
      sum(col("x")).as("fsx"), sum(col("y")).as("fsy"),
      sum(col("x") * col("x")).as("fsxx"),
      sum(col("x") * col("y")).as("fsxy"))
    val totals = rows.agg(
      count(lit(1)).cast("double").as("tn"),
      sum(col("x")).as("tsx"), sum(col("y")).as("tsy"),
      sum(col("x") * col("x")).as("tsxx"),
      sum(col("x") * col("y")).as("tsxy"))
    val grid = lambdas.zipWithIndex.map { case (l, i) => (i, l) }
      .toDF("grid_idx", "lambda")
    val models = foldStats.crossJoin(broadcast(totals))
      .select(col("fold"),
        (col("tn") - col("fn")).as("n"),
        (col("tsx") - col("fsx")).as("sx"),
        (col("tsy") - col("fsy")).as("sy"),
        (col("tsxx") - col("fsxx")).as("sxx"),
        (col("tsxy") - col("fsxy")).as("sxy"))
      .crossJoin(broadcast(grid))
      // Degenerate guard: with λ=0 and a constant-x training complement
      // the ridge denominator is exactly 0 and the quotient is ±Inf/NaN
      // — where engines diverge (DuckDB yields NULL-ish propagation).
      // Fall back to the intercept-only model (slope 0, predict the
      // mean); the oracle mirrors the same CASE.
      .withColumn("_den",
        col("sxx") - col("sx") * col("sx") / col("n") + col("lambda"))
      .withColumn("b1",
        when(col("_den") =!= 0.0,
          (col("sxy") - col("sx") * col("sy") / col("n")) / col("_den"))
          .otherwise(lit(0.0)))
      .withColumn("b0", col("sy") / col("n") - col("b1") * col("sx") / col("n"))
      .select(col("fold"), col("grid_idx"), col("lambda"),
        col("b0"), col("b1"))
    val resid = col("y") - (col("b0") + col("b1") * col("x"))
    rows.join(broadcast(models), "fold")
      .groupBy(col("grid_idx"), col("lambda"))
      .agg(round(avg(resid * resid), 4).as("avg_mse"))
  }

  /** P4 MULTI-AXIS grid search: λ × feature, the same deterministic
    * closed-form machinery as [[cvRidgeUnivariate]] with a second grid
    * dimension. The feature axis is handled by STACKING the candidate
    * x-columns in-row (explode of an array of (feature, x) structs — one
    * scan, ×|features| rows, no re-scan per feature), so sufficient
    * statistics for every (feature, fold) cell still come from ONE
    * linear pass; models remain a broadcast |folds|×|features|×|λ| row
    * set and evaluation is one more stacked pass. Two linear scans
    * total regardless of grid size — at 100 TB the grid costs nothing
    * beyond the tiny model join, and axes beyond two (e.g. window-token
    * counts) stack the same way.
    *
    * Returns one row per grid point: (feature, grid_idx, lambda,
    * avg_mse) — the full grid's cross-validated scores.
    */
  def cvRidgeGrid(df: DataFrame, keyCol: Column,
                  features: Seq[(String, Column)], yCol: Column,
                  lambdas: Seq[Double], k: Int = 3): DataFrame = {
    require(k >= 2, s"k=$k folds must be at least 2")
    require(lambdas.nonEmpty, "empty lambda grid")
    require(features.nonEmpty, "empty feature grid")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
        pmod(GraftFunctions.md5Long(keyCol.cast("string"), 8), lit(k)).as("fold"),
        yCol.cast("double").as("y"),
        explode(array(features.map { case (name, c) =>
          struct(lit(name).as("feature"), c.cast("double").as("x"))
        }: _*)).as("_fx"))
      .select(col("fold"), col("_fx.feature").as("feature"),
        col("_fx.x").as("x"), col("y"))
    val foldStats = rows.groupBy(col("feature"), col("fold")).agg(
      count(lit(1)).cast("double").as("fn"),
      sum(col("x")).as("fsx"), sum(col("y")).as("fsy"),
      sum(col("x") * col("x")).as("fsxx"),
      sum(col("x") * col("y")).as("fsxy"))
    val totals = rows.groupBy(col("feature")).agg(
      count(lit(1)).cast("double").as("tn"),
      sum(col("x")).as("tsx"), sum(col("y")).as("tsy"),
      sum(col("x") * col("x")).as("tsxx"),
      sum(col("x") * col("y")).as("tsxy"))
    val grid = lambdas.zipWithIndex.map { case (l, i) => (i, l) }
      .toDF("grid_idx", "lambda")
    val models = foldStats.join(broadcast(totals), "feature")
      .select(col("feature"), col("fold"),
        (col("tn") - col("fn")).as("n"),
        (col("tsx") - col("fsx")).as("sx"),
        (col("tsy") - col("fsy")).as("sy"),
        (col("tsxx") - col("fsxx")).as("sxx"),
        (col("tsxy") - col("fsxy")).as("sxy"))
      .crossJoin(broadcast(grid))
      // Same degenerate-denominator guard as cvRidgeUnivariate.
      .withColumn("_den",
        col("sxx") - col("sx") * col("sx") / col("n") + col("lambda"))
      .withColumn("b1",
        when(col("_den") =!= 0.0,
          (col("sxy") - col("sx") * col("sy") / col("n")) / col("_den"))
          .otherwise(lit(0.0)))
      .withColumn("b0", col("sy") / col("n") - col("b1") * col("sx") / col("n"))
      .select(col("feature"), col("fold"), col("grid_idx"), col("lambda"),
        col("b0"), col("b1"))
    val resid = col("y") - (col("b0") + col("b1") * col("x"))
    rows.join(broadcast(models), Seq("feature", "fold"))
      .groupBy(col("feature"), col("grid_idx"), col("lambda"))
      .agg(round(avg(resid * resid), 4).as("avg_mse"))
  }

  /** P4 GENERIC pipeline grid search (reference SparkGridSearchCV over
    * an arbitrary estimator, `splearn/grid_search.py:~L10-100`):
    * deterministic md5-fold CV over a REAL two-stage text pipeline —
    * CountVectorizer (vocabulary cap, the transformer axis) feeding
    * multinomial Naive Bayes (Laplace α, the estimator axis) — scored
    * by held-out accuracy. Unlike [[cvRidgeUnivariate]] this crosses
    * two DIFFERENT component families' params in one grid, the thing
    * the reference's generic wrapper did with a driver loop; here the
    * whole |caps|×|alphas| grid is one declarative plan.
    *
    * Every choice is deterministic so a SQL oracle replays it:
    * folds are md5-assigned from `idCol`; the per-fold training
    * vocabulary is the top-`cap` terms by (training count DESC, term
    * ASC); NB is closed-form on training counts with α-smoothing over
    * the REALIZED vocab size; prediction is argmax of prior + Σ tf·logP
    * over in-vocabulary tokens (OOV dropped — CountVectorizer
    * semantics), ties to the lexicographically first class; a held-out
    * doc with no in-vocabulary token scores on priors alone.
    *
    * Scale shape: ONE corpus tokenization pass, materialized at the
    * finest grain (fold, id, label, term, tf) — every coarser
    * statistic (global/per-fold/per-class term counts, held-out tf) is
    * an exact integer re-sum of that persisted frame, and none of it
    * depends on grid size; everything else is vocab- or grid-sized
    * and broadcast. The per-(fold,cap) vocab and the model
    * matrix are k·Σcaps·|classes| rows. `chosen` marks the best grid
    * point (accuracy DESC, cap ASC, alpha ASC).
    *
    * Returns one row per grid point:
    * (vocab_cap, alpha, cv_accuracy, chosen).
    */
  def cvNbPipelineGrid(docs: DataFrame, idCol: String, textCol: String,
                       labelCol: String, caps: Seq[Int],
                       alphas: Seq[Double], k: Int = 2): DataFrame = {
    require(k >= 2, s"k=$k folds must be at least 2")
    require(caps.nonEmpty && alphas.nonEmpty, "empty param grid")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("id"),
      pmod(GraftFunctions.md5Long(col(idCol).cast("string"), 8), lit(k))
        .cast("int").as("fold"),
      col(labelCol).as("label"), col(textCol).as("text"))
    val toks = base.select(col("id"), col("fold"), col("label"),
      explode(split(col("text"), " ")).as("term"))
    // THE one corpus pass: the finest-grain aggregate (fold, id, label,
    // term, tf) every statistic below derives from — id→(fold, label)
    // is functional, so every coarser count is an exact integer re-sum
    // of _tf. Without this the explode + scan re-ran once per derived
    // aggregation (measured 13.2s at sf0.1; the derived re-aggs over
    // the persisted frame are a fraction of a corpus pass each).
    // Corpus-sized and re-read five times → DISK_ONLY (r9 criterion).
    // localCheckpoint(eager), not a lazy persist (r22): materializes
    // the pass exactly once (no concurrent-subquery recompute race) at
    // the AQE-coalesced width — bytes-derived, so a handful of blocks
    // at bench scale and full width at corpus scale — where a cached
    // plan would keep the session's fixed shuffle width however small
    // the data. Lineage truncation is the established trade for these
    // fan-in frames (Components adjacency discipline); Caches.release
    // frees the checkpoint blocks.
    val tfFull = graft.core.Caches.pinShared(
      toks.groupBy(col("fold"), col("id"), col("label"), col("term"))
        .agg(count(lit(1)).as("_tf")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val folds = (0 until k).toDF("fold")
    val classes = base.select(col("label")).distinct()
    val capsDf = caps.toDF("vocab_cap")
    val alphasDf = alphas.toDF("alpha")

    // ---- CountVectorizer stage: per-fold training vocabulary ----
    // ONE aggregation over the finest-grain frame (r22): the four term
    // statistics below — global (_ct), per-fold (_cft), per-class
    // (_clt), per-(fold,class) (_cflt) — previously each ran a full
    // HashAggregate pass over the corpus-sized tfFull. They are all
    // exact integer re-sums of the (fold, label, term) rollup, whose
    // cardinality is vocabulary-scale (folds × classes × terms), so
    // aggregate tfFull ONCE to that grain, persist the slim result, and
    // re-sum it three ways. Every number is still the same exact
    // integer sum of _tf (long addition is associative) — the oracle's
    // re-sum contract is unchanged.
    // Same eager/AQE-width materialization as tfFull (r22, Drill-
    // measured): the rollup is referenced by ~6 consumers below; lazily
    // persisted it was recomputed by racing AQE subquery jobs AND read
    // through full-width task waves of near-empty tasks.
    val fltCounts = graft.core.Caches.pinShared(
      tfFull.groupBy(col("fold"), col("label"), col("term"))
        .agg(sum(col("_tf")).as("_cflt")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tCounts = fltCounts.groupBy(col("term"))
      .agg(sum(col("_cflt")).as("_ct"))
    val ftCounts = fltCounts.groupBy(col("fold"), col("term"))
      .agg(sum(col("_cflt")).as("_cft"))
    val maxCap = caps.max
    val trainCounts = broadcast(folds).crossJoin(tCounts)
      .join(ftCounts, Seq("fold", "term"), "left")
      .select(col("fold"), col("term"),
        (col("_ct") - coalesce(col("_cft"), lit(0L))).as("_train"))
      .where(col("_train") > 0)
    val ranked = topTermsPerFold(trainCounts, maxCap)
    val vocab = ranked.join(broadcast(capsDf), col("_rk") <= col("vocab_cap"))
      .select(col("fold"), col("vocab_cap"), col("term"))
    val vsize = vocab.groupBy(col("fold"), col("vocab_cap"))
      .agg(count(lit(1)).as("_vsz"))

    // ---- NB stage: smoothed log-likelihoods on training counts ----
    // (fltCounts computed once above; per-class counts are its re-sum)
    val ltCounts = fltCounts.groupBy(col("label"), col("term"))
      .agg(sum(col("_cflt")).as("_clt"))
    val vlc = vocab.crossJoin(broadcast(classes.select(col("label").as("cls"))))
      .join(ltCounts.withColumnRenamed("label", "cls"), Seq("cls", "term"), "left")
      .join(fltCounts.withColumnRenamed("label", "cls"),
        Seq("fold", "cls", "term"), "left")
      .select(col("fold"), col("vocab_cap"), col("cls"), col("term"),
        (coalesce(col("_clt"), lit(0L)) - coalesce(col("_cflt"), lit(0L)))
          .cast("double").as("_tlt"))
    val classTotals = vlc.groupBy(col("fold"), col("vocab_cap"), col("cls"))
      .agg(sum(col("_tlt")).as("_ctot"))
    val lp = vlc
      .join(classTotals, Seq("fold", "vocab_cap", "cls"))
      .join(vsize, Seq("fold", "vocab_cap"))
      .crossJoin(broadcast(alphasDf))
      .select(col("fold"), col("vocab_cap"), col("alpha"), col("cls"),
        col("term"),
        log((col("_tlt") + col("alpha")) /
          (col("_ctot") + col("alpha") * col("_vsz"))).as("_lp"))
    // training priors per (held-out fold, class). Degenerate-class
    // convention, explicit on BOTH engines: a class whose every doc
    // fell into the held-out fold has zero training docs — Spark's
    // non-ANSI log(0) is NULL while DuckDB's ln(0) is -inf, so without
    // the guard the parity was accidental (both happen to sort last
    // under the desc argmax) and a doc scoring only on priors yielded
    // null score rows. Pin the prior to -1e9: finite, never wins the
    // argmax, identical doubles on both sides (the oracle mirrors the
    // same CASE).
    // One doc-count pass (r22): the (fold, label) doc rollup is k×|C|
    // rows and every coarser count is its exact integer re-sum — the
    // same collapse as fltCounts above (was four separate base scans).
    // Tiny frame, four readers → MEMORY_AND_DISK, session-tracked.
    // k×|C| rows AT ANY CORPUS SCALE (folds × classes) — the AQE-sized
    // eager checkpoint lands it in one block everywhere, and the eager
    // pass prevents the same concurrent-materialization race as above.
    val flDocs = graft.core.Caches.pinShared(
      base.groupBy(col("fold"), col("label"))
        .agg(count(lit(1)).as("_ndfl")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labelDocs = flDocs.groupBy(col("label")).agg(sum(col("_ndfl")).as("_ndl"))
    val foldDocs = flDocs.groupBy(col("fold")).agg(sum(col("_ndfl")).as("_ndf"))
    val nDocs = flDocs.agg(sum(col("_ndfl")).as("_nd"))
    val priors = broadcast(folds).crossJoin(classes)
      .join(labelDocs, "label")
      .join(flDocs, Seq("fold", "label"), "left")
      .join(foldDocs, "fold")
      .crossJoin(broadcast(nDocs))
      .select(col("fold"), col("label").as("cls"),
        when(col("_ndl") - coalesce(col("_ndfl"), lit(0L)) > 0,
          log((col("_ndl") - coalesce(col("_ndfl"), lit(0L))).cast("double") /
            (col("_nd") - col("_ndf"))))
          .otherwise(lit(-1e9)).as("_prior"))

    // ---- held-out evaluation: the same materialized pass ----
    val tf = tfFull.select(col("fold"), col("id"), col("term"),
      col("_tf"))
    val docScores = tf.join(lp, Seq("fold", "term"))
      .groupBy(col("fold"), col("vocab_cap"), col("alpha"), col("id"),
        col("cls"))
      .agg(sum(col("_tf") * col("_lp")).as("_ll"))
    // docs×grid×classes universe so an all-OOV doc still scores (priors)
    val universe = base.select(col("fold"), col("id"),
        col("label").as("actual"))
      .crossJoin(broadcast(capsDf.crossJoin(alphasDf)))
      .crossJoin(broadcast(classes.select(col("label").as("cls"))))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vocab_cap"), col("alpha"), col("id"))
      .orderBy(col("_score").desc, col("cls"))
    val preds = universe
      .join(docScores, Seq("fold", "vocab_cap", "alpha", "id", "cls"), "left")
      .join(priors, Seq("fold", "cls"))
      .withColumn("_score", coalesce(col("_ll"), lit(0.0)) + col("_prior"))
      .withColumn("_rn", row_number().over(wDoc))
      .where(col("_rn") === 1)
    val scoresByGrid = preds.groupBy(col("vocab_cap"), col("alpha"))
      .agg((round(avg((col("cls") === col("actual")).cast("int")), 4)
        + lit(0.0)).as("cv_accuracy"))
    val wBest = org.apache.spark.sql.expressions.Window
      .orderBy(col("cv_accuracy").desc, col("vocab_cap"), col("alpha"))
    scoresByGrid
      .withColumn("chosen",
        (row_number().over(wBest) === 1).cast("int"))
  }

  /** Exact top-`maxCap` terms per fold by (train count DESC, term ASC),
    * TWO-PHASE so no task ever sorts a whole fold's vocabulary: phase 1
    * ranks within (fold, md5-salt bucket) and keeps each bucket's top
    * maxCap — an exact necessary condition, since a term's global rank
    * within its fold is ≥ its rank within any subset containing it —
    * then phase 2 runs the original window over the survivors, now at
    * most salts·maxCap rows per fold. At web scale (10⁸–10⁹ distinct
    * terms by Heaps' law) the single `row_number() OVER (PARTITION BY
    * fold)` this replaces was a near-global one-task-per-fold sort —
    * the same shape [[graft.text.Urls.perDomainCap]] and the SuffixRank
    * range-partitioned rank eliminate. Output = input columns + `_rk`
    * (the exact global per-fold rank, ≤ maxCap). Ordering is total
    * (term tiebreak), so both phases are deterministic.
    */
  private[graft] def topTermsPerFold(trainCounts: DataFrame, maxCap: Int,
                                     salts: Int = 32): DataFrame = {
    require(salts >= 1, s"salts=$salts must be positive")
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fold"), col("_salt"))
      .orderBy(col("_train").desc, col("term"))
    val wVocab = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fold"))
      .orderBy(col("_train").desc, col("term"))
    trainCounts
      .withColumn("_salt",
        pmod(GraftFunctions.md5Long(col("term"), 8), lit(salts)))
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= maxCap)
      .withColumn("_rk", row_number().over(wVocab))
      .where(col("_rk") <= maxCap)
      .drop("_salt", "_r1")
  }

  /** Grid-searched logistic regression over an embedding column. */
  def gridSearchLogistic(df: DataFrame, featuresArr: String, labelCol: String,
                         regParams: Seq[Double] = Seq(0.0, 0.1),
                         numFolds: Int = 2,
                         parallelism: Int = 4): CrossValidatorModel = {
    val prepared = df.withColumn("features",
      array_to_vector(col(featuresArr).cast("array<double>")))
    val lr = new LogisticRegression()
      .setMaxIter(10).setLabelCol(labelCol).setFeaturesCol("features")
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, regParams)
      .build()
    new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol(labelCol).setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setParallelism(parallelism)
      .setSeed(42L)
      .fit(prepared)
  }
}
