package graft.mlops

import graft.core.Caches
import graft.functions.GraftFunctions
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

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
    * the reference's generic wrapper did with a driver loop.
    *
    * Every choice is deterministic so a SQL oracle replays it:
    * folds are md5-assigned from `idCol` (a key: one row per id); the
    * per-fold training vocabulary is the top-`cap` terms by (training
    * count DESC, term ASC); NB is closed-form on training counts with
    * α-smoothing over the REALIZED vocab size; prediction is argmax of
    * prior + Σ tf·logP over in-vocabulary tokens (OOV dropped —
    * CountVectorizer semantics), ties to the lexicographically first
    * class; a held-out doc with no in-vocabulary token is predicted on
    * priors alone. A class with no training doc in a fold has the prior
    * -1e9 there. `chosen` marks the best grid point (accuracy DESC, cap
    * ASC, alpha ASC). Caps and alphas must be distinct, alphas > 0.
    *
    * Fit the way the reference does: sufficient statistics are
    * distributed, the candidate models are built on the driver and
    * scored against the corpus as one broadcast. ONE corpus
    * tokenization pass is pinned at the finest grain (fold, id, label,
    * term, tf); its vocabulary-scale (fold, label, term) rollup ranks
    * each fold's exact top-max(caps) vocabulary. The driver collects
    * only model-scale tables: per fold its vocabulary terms' per-class
    * training counts (at most k·max(caps)·|classes| rows, within
    * k·Σcaps·|classes|) and the (fold, label) doc counts (k·|classes|
    * rows, plus a null fold from null ids). From them it builds every
    * candidate's log-probabilities (k·Σcaps·|classes|·|alphas| values,
    * broadcast as one row per (fold, term) with a value per (cap,
    * alpha, class)) and priors, with Spark's arithmetic
    * (`StrictMath.log`, integer counts summed as longs). One pass over
    * the pinned tf joins that broadcast model and sums tf·logP per doc
    * in |caps|·|alphas|·|classes| Spark sums; each doc's class per
    * candidate is an in-row argmax, and a second aggregate returns
    * per-(fold, label) scored and correct counts per candidate. The
    * driver adds the docs with no in-vocabulary token at their fold's
    * prior-only class. Term tables, per-doc tf and per-doc scores stay
    * distributed. The pin is freed before this returns a driver-built
    * local frame.
    *
    * Returns one row per grid point:
    * (vocab_cap, alpha, cv_accuracy, chosen).
    */
  def cvNbPipelineGrid(docs: DataFrame, idCol: String, textCol: String,
                       labelCol: String, caps: Seq[Int],
                       alphas: Seq[Double], k: Int = 2): DataFrame = {
    require(k >= 2, s"k=$k folds must be at least 2")
    require(caps.nonEmpty && alphas.nonEmpty, "empty param grid")
    require(caps.distinct.size == caps.size &&
      alphas.distinct.size == alphas.size, s"repeated grid value: $caps $alphas")
    require(alphas.forall(_ > 0), s"alphas $alphas: smoothing needs alpha > 0")
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).as("id"),
      pmod(GraftFunctions.md5Long(col(idCol).cast("string"), 8), lit(k))
        .cast("int").as("fold"),
      col(labelCol).as("label"), col(textCol).as("text"))
    val toks = base.select(col("id"), col("fold"), col("label"),
      explode(split(col("text"), " ")).as("term"))

    // (fold, label) doc counts: k·|classes| rows, sorted by label as
    // Spark sorts, so a class's index is its rank in the argmax tie-break
    val flDocs = base.groupBy(col("fold"), col("label"))
      .agg(count(lit(1)).as("_ndfl"))
      .coalesce(1).sortWithinPartitions(col("label")).collect()
      .map(r => ((r.get(0), r.get(1)), r.getLong(2)))
    val docsIn = flDocs.toMap
    val classes = flDocs.map(_._1._2).filter(_ != null).distinct.toSeq
    val nd = flDocs.map(_._2).sum
    val ndf = flDocs.groupMapReduce(_._1._1)(_._2)(_ + _)
    val ndl = flDocs.groupMapReduce(_._1._2)(_._2)(_ + _)
    // training priors per (held-out fold, class), -1e9 for a class whose
    // every doc is in the held-out fold (Spark's log(0) would be null)
    val prior = (for (f <- 0 until k; c <- classes) yield {
      val train = ndl(c) - docsIn.getOrElse((f, c), 0L)
      (f, c) -> (if (train > 0)
        StrictMath.log(train.toDouble / (nd - ndf.getOrElse(f, 0L)))
      else -1e9)
    }).toMap
    val priorOnly = (0 until k).flatMap(f => classes
      .maxByOption(c => prior((f, c)))(Ordering.Double.TotalOrdering)
      .map(f -> _)).toMap

    // THE one corpus pass, at the finest grain every statistic below
    // re-sums (id→(fold, label) is functional). Corpus-sized and read
    // by two queries → DISK_ONLY, pinned eagerly at the AQE-coalesced
    // width.
    val tfFull = Caches.pin(
      toks.groupBy(col("fold"), col("id"), col("label"), col("term"))
        .agg(count(lit(1)).as("_tf")),
      StorageLevel.DISK_ONLY)
    try {
      // (fold, term, rank, label, count) for each fold's top-max(caps)
      // training terms, from the vocabulary-scale (fold, label, term)
      // rollup: a count trains every fold but its own (a null fold, from
      // a null id, trains them all). The query reads `trained` twice and
      // AQE reuses its one exchange.
      val trained = tfFull.df.groupBy(col("fold"), col("label"), col("term"))
        .agg(sum(col("_tf")).as("_cflt"))
        .select(explode(filter(sequence(lit(0), lit(k - 1)),
            f => col("fold").isNull || f =!= col("fold"))).as("fold"),
          col("label"), col("term"), col("_cflt"))
      val ranked = topTermsPerFold(
        trained.groupBy(col("fold"), col("term"))
          .agg(sum(col("_cflt")).as("_train")),
        caps.max)
      val vocabCounts = broadcast(ranked.select(col("fold"), col("term"),
          col("_rk")))
        .join(trained, Seq("fold", "term"))
        .groupBy(col("fold"), col("term"), col("_rk"), col("label"))
        .agg(sum(col("_cflt")).as("_tlt"))
        .collect()
      val ranks = vocabCounts.map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        .distinct.groupBy(_._1)
      val trainCount = vocabCounts
        .map(r => (r.getInt(0), r.getString(1), r.get(3)) -> r.getLong(4)).toMap

      // every candidate's log-probabilities, as Spark evaluates
      // log((tlt + α) / (ctot + α·vsz))
      val lp = (for {
        f <- 0 until k
        cap <- caps
        terms = ranks.getOrElse(f, Array.empty[(Int, String, Int)])
          .collect { case (_, t, rk) if rk <= cap => t }.toSeq
        c <- classes
        counts = terms.map(t => trainCount.getOrElse((f, t, c), 0L))
        ctot = counts.sum
        a <- alphas
        (t, n) <- terms.zip(counts)
      } yield (f, t, cap, a, c) -> StrictMath.log(
        (n.toDouble + a) / (ctot.toDouble + a * terms.size.toDouble))).toMap
      // the broadcast model: one row per (fold, vocabulary term), its
      // log-probability in every (cap, alpha, class) slot, null where the
      // term is outside the cap's vocabulary
      val points = for (cap <- caps; a <- alphas) yield (cap, a)
      val slots = for ((cap, a) <- points; c <- classes) yield (cap, a, c)
      val modelDf = spark.createDataFrame(ranks.toSeq.flatMap {
          case (f, terms) => terms.map { case (_, t, _) =>
            Row(f, t, slots.map { case (cap, a, c) =>
              lp.get((f, t, cap, a, c)).fold[Any](null)(identity) })
          }
        }.asJava,
        StructType(Seq(StructField("fold", IntegerType),
          StructField("term", StringType),
          StructField("_lp", ArrayType(DoubleType)))))

      // ---- held-out evaluation: one pass over the pinned tf ----
      // Σ tf·logP per (doc, slot) as Spark sums; a doc with no token in a
      // cap's vocabulary has null sums there, and every class of an
      // in-vocabulary term has a log-probability, so a doc's sums for
      // one grid point are all null or none
      val scored = if (slots.isEmpty) Map.empty[Any, (Long, Long)] else {
        val ll = slots.indices.map(j => col(s"_ll$j"))
        val sums = slots.indices.map(j =>
          sum(col("_tf") * col("_lp")(j)).as(s"_ll$j"))
        // each grid point's argmax in-row, prior + Σ tf·logP DESC then
        // class; scored and correct docs counted per (fold, label)
        val classLit = array(classes.map(lit): _*)
        val counts = points.indices.flatMap { g =>
          val cls = classes.indices.map(i => g * classes.size + i)
          val best = array_min(array(classes.indices.map { i =>
            val classPrior = array((0 until k).map(f =>
              lit(prior((f, classes(i))))): _*)
            struct((-(ll(cls(i)) + classPrior(col("fold")))).as("_neg"),
              lit(i).as("_i"))
          }: _*)).getField("_i")
          Seq(count(ll(cls.head)),
            count(when(ll(cls.head).isNotNull &&
              classLit(best) === col("label"), lit(1))))
        }
        tfFull.df.where(col("label").isNotNull)
          .join(broadcast(modelDf), Seq("fold", "term"))
          .groupBy(col("fold"), col("label"), col("id"))
          .agg(sums.head, sums.tail: _*)
          .groupBy(col("fold"), col("label"))
          .agg(counts.head, counts.tail: _*)
          .collect()
          .flatMap(r => points.indices.map { g =>
            (points(g)._1, points(g)._2, r.getInt(0), r.get(1)) ->
              (r.getLong(2 + 2 * g), r.getLong(3 + 2 * g))
          }).toMap[Any, (Long, Long)]
      }

      // accuracy over every labelled held-out doc; one without an
      // in-vocabulary token takes its fold's prior-only class
      val evaluated = classes.nonEmpty && ndf.keys.exists(_ != null)
      val grid = for ((cap, a) <- points if evaluated) yield {
        val (n, ok) = (for (f <- 0 until k; c <- classes) yield {
          val nfc = docsIn.getOrElse((f, c), 0L)
          val (sn, sok) = scored.getOrElse((cap, a, f, c), (0L, 0L))
          (nfc, sok + (if (priorOnly.get(f).contains(c)) nfc - sn else 0L))
        }).foldLeft((0L, 0L)) { case ((x, y), (u, v)) => (x + u, y + v) }
        // Spark's round(avg, 4) + 0.0
        (cap, a, Option.when(n > 0)(BigDecimal(ok.toDouble / n)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0))
      }
      val best = grid.sortBy { case (cap, a, acc) =>
        (acc.isEmpty, -acc.getOrElse(0.0), cap, a)
      }(Ordering.Tuple4(Ordering.Boolean, Ordering.Double.TotalOrdering,
        Ordering.Int, Ordering.Double.TotalOrdering)).headOption
      spark.createDataFrame(grid.map { case g @ (cap, a, acc) =>
          Row(cap, a, acc.fold[Any](null)(identity),
            if (best.contains(g)) 1 else 0)
        }.asJava,
        StructType(Seq(StructField("vocab_cap", IntegerType, nullable = false),
          StructField("alpha", DoubleType, nullable = false),
          StructField("cv_accuracy", DoubleType),
          StructField("chosen", IntegerType, nullable = false))))
    } finally tfFull.free(blocking = false)
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
