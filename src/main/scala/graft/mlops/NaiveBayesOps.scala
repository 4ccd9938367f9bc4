package graft.mlops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Naive Bayes as relational algebra (SURVEY §2.5).
  *
  * The reference merged per-block `class_count_`/`feature_count_` by
  * summation and recomputed smoothed log-probabilities on the driver
  * (`splearn/naive_bayes.py:~L10-80`). Both fit and predict are pure
  * `groupBy().agg()` + join plans here, which means: no driver state
  * proportional to data, partial aggregation map-side, and the model
  * "matrix" (classes × vocab) is itself a DataFrame that Spark broadcasts
  * into the predict join when small.
  */
object NaiveBayesOps {

  /** Multinomial NB fit over (docCol, classCol, termCol) token rows:
    * full smoothed log-probability matrix including zero-count (class,term)
    * pairs — exactly sklearn's `feature_log_prob_` with Lidstone alpha.
    */
  def multinomialFit(tokens: DataFrame, classCol: String, termCol: String,
                     alpha: Double = 1.0,
                     roundDigits: Option[Int] = Some(6)): DataFrame = {
    val counts = tokens.groupBy(col(classCol), col(termCol))
      .agg(count(lit(1)).as("cnt"))
    val classes = tokens.select(col(classCol)).distinct()
    val vocab = tokens.select(col(termCol)).distinct()
    val vsize = vocab.agg(count(lit(1)).as("_v"))
    val totals = counts.groupBy(col(classCol)).agg(sum(col("cnt")).as("class_total"))
    val raw = log((col("cnt") + lit(alpha)) /
      (col("class_total") + lit(alpha) * col("_v")))
    // classes is O(labels) — broadcast it so the dense (class, term) grid
    // is a BroadcastNestedLoopJoin streaming over the vocab, not a
    // CartesianProduct (which shuffles BOTH sides into n*m partition
    // pairs; the PlanSpec bench-policy test catches this shape)
    broadcast(classes).crossJoin(vocab)
      .join(counts, Seq(classCol, termCol), "left")
      .na.fill(0L, Seq("cnt"))
      .join(totals, Seq(classCol))
      .crossJoin(broadcast(vsize))
      .select(col(classCol), col(termCol), col("cnt"),
        roundDigits.fold(raw)(d => round(raw, d)).as("log_prob"))
  }

  /** [[multinomialFit]] with sklearn's `sample_weight`: every token row
    * carries its document's weight and all sufficient statistics become
    * weighted sums — `wcnt` = Σw replaces the count, the class totals
    * and smoothing follow. Integer weights reproduce exactly the fit on
    * a corpus with each doc replicated w times (the sample_weight
    * semantics; MLOpsSpec pins the equivalence), and an all-ones weight
    * column reproduces the unweighted fit. The natural cable for the
    * mixture/temperature rates this library computes: an NB fit on the
    * reweighted corpus without materializing the resample.
    */
  def multinomialFitWeighted(tokens: DataFrame, classCol: String,
                             termCol: String, weightCol: String,
                             alpha: Double = 1.0,
                             roundDigits: Option[Int] = Some(6)): DataFrame = {
    val counts = tokens.groupBy(col(classCol), col(termCol))
      .agg(sum(col(weightCol).cast("double")).as("wcnt"))
    val classes = tokens.select(col(classCol)).distinct()
    val vocab = tokens.select(col(termCol)).distinct()
    val vsize = vocab.agg(count(lit(1)).as("_v"))
    val totals = counts.groupBy(col(classCol))
      .agg(sum(col("wcnt")).as("class_total"))
    val raw = log((col("wcnt") + lit(alpha)) /
      (col("class_total") + lit(alpha) * col("_v")))
    broadcast(classes).crossJoin(vocab)
      .join(counts, Seq(classCol, termCol), "left")
      .na.fill(0.0, Seq("wcnt"))
      .join(totals, Seq(classCol))
      .crossJoin(broadcast(vsize))
      .select(col(classCol), col(termCol), col("wcnt"),
        roundDigits.fold(raw)(d => round(raw, d)).as("log_prob"))
  }

  /** Full (doc, class) log-posterior scores:
    * log prior + Σ_term count·log P(term|class) — the shared core of
    * predict / predict_proba / score. Unrounded: the argmax and softmax
    * must see full precision on both engines (rounding before argmax
    * could flip near-ties differently).
    */
  def multinomialScores(docTokens: DataFrame, docCol: String, termCol: String,
                        classDocs: DataFrame, classCol: String,
                        alpha: Double = 1.0): DataFrame = {
    val logProb = multinomialFit(
      docTokens.join(classDocs, docCol), classCol, termCol, alpha,
      roundDigits = None)
      .withColumnRenamed("log_prob", "_lp")
      .drop("cnt")
    val counts = docTokens.groupBy(col(docCol), col(termCol))
      .agg(count(lit(1)).as("tf"))
    val nDocs = classDocs.agg(count(lit(1)).as("_n"))
    val priors = classDocs.groupBy(col(classCol)).agg(count(lit(1)).as("_nc"))
      .crossJoin(broadcast(nDocs))
      .select(col(classCol), log(col("_nc") / col("_n")).as("prior"))
    counts
      .join(logProb, Seq(termCol))
      .groupBy(col(docCol), col(classCol))
      .agg(sum(col("tf") * col("_lp")).as("ll"))
      .join(broadcast(priors), Seq(classCol))
      .withColumn("score", col("ll") + col("prior"))
  }

  /** One row per doc with the `classCol` value of its highest `score`
    * as `pred`: the order of `score DESC NULLS LAST, class` (NaN
    * highest, -0.0 equal to 0.0, as in Spark's sort), so a null score
    * ranks below every other and a tie goes to the first class. One
    * aggregate, `min` of a struct whose fields sort that way, with a
    * map-side partial per doc instead of a window's full sort.
    */
  private def argmaxClass(scores: DataFrame, docCol: String,
                          classCol: String): DataFrame = {
    val s = col("score")
    scores.groupBy(col(docCol))
      .agg(min(struct(s.isNull.as("_null"), (!isnan(s)).as("_num"),
        (-s).as("_neg"), col(classCol).as("_cls"))).as("_best"))
      .select(col(docCol), col("_best._cls").as("pred"))
  }

  /** Predict from a PERSISTED model instead of refitting: `model` is a
    * [[multinomialFit]]-shaped frame (classCol, termCol, log_prob) and
    * `classDocCounts` a (classCol, n_docs) prior table — exactly what
    * [[graft.mlops.ModelIO]] round-trips. Same argmax convention as
    * [[multinomialPredict]]; OOV terms (absent from the model vocab)
    * drop out, CountVectorizer-style, and a doc with no in-vocab term
    * is absent from the output (it has no posterior under the model).
    * Because parquet preserves doubles bit-exactly, predictions from a
    * saved-then-loaded model are row-identical to the fitted one.
    */
  def multinomialPredictFromModel(docTokens: DataFrame, docCol: String,
                                  termCol: String, model: DataFrame,
                                  classCol: String,
                                  classDocCounts: DataFrame): DataFrame = {
    val counts = docTokens.groupBy(col(docCol), col(termCol))
      .agg(count(lit(1)).as("tf"))
    val nDocs = classDocCounts.agg(sum(col("n_docs")).as("_n"))
    // degenerate-class guard (mirrors Composition's CV prior fix): a
    // class row with n_docs=0 must score -inf-like, not NULL — a NULL
    // prior would silently drop the class from every argmax
    val priors = classDocCounts.crossJoin(broadcast(nDocs))
      .select(col(classCol),
        when(col("n_docs") > 0, log(col("n_docs") / col("_n")))
          .otherwise(lit(-1e9)).as("prior"))
    val scores = counts
      .join(model.select(col(classCol), col(termCol),
        col("log_prob").as("_lp")), Seq(termCol))
      .groupBy(col(docCol), col(classCol))
      .agg(sum(col("tf") * col("_lp")).as("ll"))
      .join(broadcast(priors), Seq(classCol))
      .withColumn("score", col("ll") + col("prior"))
    argmaxClass(scores, docCol, classCol)
  }

  /** Multinomial NB predict: argmax over classes of the log-posterior
    * ([[argmaxClass]]: ties to the first class name, a null score last).
    */
  def multinomialPredict(docTokens: DataFrame, docCol: String, termCol: String,
                         classDocs: DataFrame, classCol: String,
                         alpha: Double = 1.0): DataFrame =
    argmaxClass(multinomialScores(docTokens, docCol, termCol, classDocs,
      classCol, alpha), docCol, classCol)

  /** predict_proba (reference `splearn/naive_bayes.py:~L140-170`):
    * numerically-stable softmax of the per-doc log-posteriors —
    * exp(score − max) normalized within the doc. Two window functions
    * over the same (doc) partitioning: one exchange, no joins.
    */
  def multinomialPredictProba(docTokens: DataFrame, docCol: String,
                              termCol: String, classDocs: DataFrame,
                              classCol: String,
                              alpha: Double = 1.0): DataFrame = {
    val scores = multinomialScores(docTokens, docCol, termCol, classDocs,
      classCol, alpha)
    val w = Window.partitionBy(col(docCol))
    scores
      .withColumn("_e", exp(col("score") - max(col("score")).over(w)))
      .withColumn("proba", col("_e") / sum(col("_e")).over(w))
      .select(col(docCol), col(classCol),
        (round(col("proba"), 4) + lit(0.0)).as("proba"))
  }

  /** ClassifierMixin.score (`splearn/base.py:~L60`) as an aggregation:
    * accuracy per actual class plus an overall row — the driver never
    * sees per-row predictions, only the O(classes) summary.
    */
  def accuracyByClass(predictions: DataFrame, predCol: String,
                      actualCol: String): DataFrame = {
    val flagged = predictions.withColumn("_ok",
      (col(predCol) === col(actualCol)).cast("long"))
    val per = flagged.groupBy(col(actualCol).as("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_ok")).as("n_correct"))
    val overall = flagged.agg(count(lit(1)).as("n_docs"),
        sum(col("_ok")).as("n_correct"))
      .select(lit("ALL").as("class"), col("n_docs"), col("n_correct"))
    per.unionByName(overall)
      .withColumn("accuracy",
        round(col("n_correct") / col("n_docs"), 4) + lit(0.0))
  }

  /** Gaussian NB fit: per-(class, feature) mean and population variance —
    * the count-weighted pooling the reference did on the driver
    * (`splearn/naive_bayes.py:~L80`) is just avg/var_pop grouped by class.
    * Input: long-form (classCol, dim, value).
    */
  def gaussianFit(longForm: DataFrame, classCol: String): DataFrame =
    longForm.groupBy(col(classCol), col("dim"))
      .agg(
        round(avg(col("v")), 6).as("theta"),
        round(var_pop(col("v")), 6).as("sigma2"),
        count(lit(1)).as("n"))

  /** Gaussian NB predict: argmax over classes of
    * ln(prior) + Σ_dim [ −½·ln(2π·σ²) − (x−θ)²/(2σ²) ].
    * Takes the ROUNDED fit (as emitted by [[gaussianFit]]) so the scores
    * are reproducible across engines — the same rounded-params-in-predict
    * rule the multinomial path uses. One broadcast join on dim (the fit
    * is O(classes × dims)), one aggregation per (point, class), argmax
    * via row_number with class-id tie-break.
    */
  /** Full (point, class) Gaussian log-posterior scores — the shared core
    * of gaussian predict / predict_proba (unrounded; see
    * [[multinomialScores]] for why).
    */
  def gaussianScores(pointsLong: DataFrame, idCol: String,
                     fit: DataFrame, classCol: String): DataFrame = {
    val nPerClass = fit.where(col("dim") === 1)
      .select(col(classCol), col("n"))
    val total = nPerClass.agg(sum(col("n")).as("_tot"))
    val priors = nPerClass.crossJoin(total)
      .select(col(classCol), log(col("n") / col("_tot")).as("_logprior"))
    pointsLong
      .join(broadcast(fit), "dim")
      .groupBy(col(idCol), col(classCol))
      .agg(sum(
        lit(-0.5) * log(lit(2.0 * math.Pi) * col("sigma2"))
          - pow(col("v") - col("theta"), 2) / (lit(2.0) * col("sigma2")))
        .as("_loglik"))
      .join(broadcast(priors), classCol)
      .withColumn("score", col("_loglik") + col("_logprior"))
  }

  def gaussianPredict(pointsLong: DataFrame, idCol: String,
                      fit: DataFrame, classCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = gaussianScores(pointsLong, idCol, fit, classCol)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col(classCol))
    scores.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col(idCol), col(classCol).as("pred"),
        // + 0.0 canonicalizes -0.0: a score rounding to negative zero
        // hashes differently across engines (the repo-wide round rule).
        (round(col("score"), 2) + lit(0.0)).as("score"))
  }

  /** Gaussian NB predict_proba: stable softmax of the per-point
    * log-posteriors — same two-window shape as
    * [[multinomialPredictProba]].
    */
  def gaussianPredictProba(pointsLong: DataFrame, idCol: String,
                           fit: DataFrame, classCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = gaussianScores(pointsLong, idCol, fit, classCol)
    val w = Window.partitionBy(col(idCol))
    scores
      .withColumn("_e", exp(col("score") - max(col("score")).over(w)))
      .withColumn("proba", col("_e") / sum(col("_e")).over(w))
      .select(col(idCol), col(classCol),
        (round(col("proba"), 4) + lit(0.0)).as("proba"))
  }

  /** Explode an array column to long form (1-based dim to match SQL). */
  def toLongForm(df: DataFrame, idCols: Seq[String], arrCol: String,
                 maxDim: Int = Int.MaxValue): DataFrame = {
    df.select(idCols.map(col) :+ posexplode(col(arrCol)).as(Seq("_pos", "_v")): _*)
      .where(col("_pos") < maxDim)
      .withColumn("dim", (col("_pos") + 1).cast("int"))
      .withColumn("v", col("_v").cast("double"))
      .drop("_pos", "_v")
  }
}
