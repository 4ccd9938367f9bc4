package graft.mlops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Classification evaluation metrics — the measurement side a training
  * pipeline needs next to the fits (upstream sparkit-learn defers to
  * sklearn.metrics on collected arrays, e.g. `splearn/base.py`'s score
  * mixin; here every metric is a distributed aggregation).
  *
  * 100 TB shapes:
  *  - confusion / per-class P-R-F1: ONE hash aggregation over
  *    (label, pred) — map-side combinable, result is classes^2 rows.
  *  - exact AUC: ONE hash aggregation to the distinct-score histogram,
  *    then the Mann-Whitney rank sum over that histogram. The histogram
  *    is BOUNDED by the caller's score quantization (scores rounded to
  *    `quantize` decimals => at most 10^quantize+1 rows per unit of
  *    score range), so the ordering window runs on a model-scale frame
  *    — the seedVocab/perDomainCap phase-2 discipline, never a
  *    corpus-sized global sort. Ties get average ranks (the exact
  *    trapezoidal/Mann-Whitney correction), so heavy quantization stays
  *    EXACT for the quantized scores rather than approximate.
  */
object Eval {

  /** Confusion matrix: one row per observed (label, pred) pair. */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol).as("label"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-class precision / recall / F1 (+ support), sklearn
    * `classification_report` semantics: a class's precision with zero
    * predicted rows (or recall with zero support) is 0.0, not NULL.
    * One confusion aggregation, then class-cardinality arithmetic.
    */
  def classificationReport(df: DataFrame, labelCol: String,
                           predCol: String): DataFrame = {
    val cm = graft.core.Caches.pinShared(confusion(df, labelCol, predCol),
      StorageLevel.MEMORY_AND_DISK)
    val tp = cm.where(col("label") === col("pred"))
      .select(col("label").as("cls"), col("n").as("_tp"))
    val byLabel = cm.groupBy(col("label").as("cls"))
      .agg(sum(col("n")).as("support"))
    val byPred = cm.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("_npred"))
    byLabel
      .join(byPred, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("_tp"), lit(0L)).as("tp"),
        coalesce(col("_npred"), lit(0L)).as("npred"))
      .withColumn("precision", round(when(col("npred") > 0,
        col("tp").cast("double") / col("npred")).otherwise(0.0), 6))
      .withColumn("recall", round(when(col("support") > 0,
        col("tp").cast("double") / col("support")).otherwise(0.0), 6))
      .withColumn("f1", round(when(col("precision") + col("recall") > 0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))).otherwise(0.0), 6))
  }

  /** Exact binary AUC (Mann-Whitney with average-rank ties) from a
    * score column and a 0/1 label column. `quantize` rounds scores
    * first — the contract that bounds the distinct-score histogram the
    * rank window runs on; the AUC is exact FOR THE QUANTIZED scores.
    * Returns one row: (auc, npos, nneg).
    */
  def aucExact(df: DataFrame, scoreCol: String, labelCol: String,
               quantize: Int = 6): DataFrame =
    aucExactBy(df.withColumn("_g", lit(0)), scoreCol, labelCol, "_g",
      quantize).drop("_g")

  /** Segmented exact AUC — one AUC per `groupCol` value (the
    * model-monitoring view: which segment does the model underserve;
    * the evaluation twin of `Scoring.scoreBy`). The rank window runs on
    * the per-group quantized-score histogram — bounded per group by the
    * quantization contract — and groups rank in parallel.
    * Returns one row per group: (groupCol, auc, npos, nneg).
    */
  def aucExactBy(df: DataFrame, scoreCol: String, labelCol: String,
                 groupCol: String, quantize: Int = 6): DataFrame = {
    val hist = df
      .select(col(groupCol), round(col(scoreCol), quantize).as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col(groupCol), col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    // bounded-cardinality frame per group (quantization contract) — the
    // per-group ordering window is the documented model-scale carve-out
    val w = Window.partitionBy(col(groupCol)).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("_cum", sum(col("n")).over(w) - col("n"))
      .withColumn("_avgrank",
        col("_cum") + (col("n").cast("double") + lit(1.0)) / lit(2.0))
    ranked.groupBy(col(groupCol))
      .agg(
        sum(col("npos") * col("_avgrank")).as("_rsum"),
        sum(col("npos")).as("npos"),
        sum(col("n") - col("npos")).as("nneg"))
      .select(col(groupCol),
        // double arithmetic throughout: npos*(npos+1) and npos*nneg
        // overflow LONG beyond ~1e12 rows of one class
        round((col("_rsum") - col("npos").cast("double") *
            (col("npos").cast("double") + 1.0) / 2.0) /
          nullif(col("npos").cast("double") * col("nneg").cast("double"),
            lit(0.0)), 6).as("auc"),
        col("npos"), col("nneg"))
  }

  /** Regression error report in ONE map-side-combinable pass: n, MAE,
    * RMSE, MAPE (over rows with actual != 0 — the defined-everywhere
    * convention, stated identically in oracles; mape_n counts the rows
    * it covers) and R² (SStot = var_pop·n, the stable one-pass form;
    * zero-variance target → 0.0, the `Scoring` convention).
    */
  def regressionReport(df: DataFrame, actualCol: String,
                       predCol: String): DataFrame = {
    val a = col(actualCol).cast("double")
    val p = col(predCol).cast("double")
    val e = p - a
    df.agg(
        count(lit(1)).as("n"),
        round(avg(abs(e)), 6).as("mae"),
        round(sqrt(avg(e * e)), 6).as("rmse"),
        sum(when(a =!= 0.0, 1L).otherwise(0L)).as("mape_n"),
        round(avg(when(a =!= 0.0, abs(e / a))), 6).as("mape"),
        avg(e * e).as("_mse"),
        var_pop(a).as("_var"))
      .select(col("n"), col("mae"), col("rmse"), col("mape_n"),
        col("mape"),
        round(when(col("_var") > 0.0,
          lit(1.0) - col("_mse") / col("_var")).otherwise(0.0), 6)
          .as("r2"))
  }

  /** Cohen's kappa — chance-corrected agreement between two labelings
    * (annotator QA in a labeling pipeline; also model-vs-model drift).
    * ONE confusion aggregation, then class-cardinality marginals:
    * po = Σ diag / n, pe = Σ_c rowMarg_c·colMarg_c / n², kappa =
    * (po − pe) / (1 − pe). Marginal products computed in double (long
    * overflows past ~3e9 rows per class pair). Returns one row:
    * (n, po, pe, kappa); perfect agreement with pe == 1 (a single
    * shared class) is defined as kappa = 1.
    */
  def cohensKappa(df: DataFrame, col1: String, col2: String): DataFrame = {
    val cm = graft.core.Caches.pinShared(confusion(df, col1, col2),
      StorageLevel.MEMORY_AND_DISK)
    val n = cm.agg(sum(col("n")).as("_n"))
    val diag = cm.where(col("label") === col("pred"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("_d"))
    val marg = cm.groupBy(col("label").as("cls"))
      .agg(sum(col("n")).as("_r"))
      .join(cm.groupBy(col("pred").as("cls")).agg(sum(col("n")).as("_c")),
        Seq("cls"), "full")
      .agg(sum(coalesce(col("_r"), lit(0L)).cast("double") *
        coalesce(col("_c"), lit(0L)).cast("double")).as("_rc"))
    n.crossJoin(diag).crossJoin(marg)
      .select(col("_n").as("n"),
        round(col("_d").cast("double") / col("_n"), 6).as("po"),
        round(col("_rc") / (col("_n").cast("double") * col("_n")), 6)
          .as("pe"))
      .withColumn("kappa",
        round(when(col("pe") === 1.0,
          when(col("po") === 1.0, 1.0).otherwise(0.0))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe"))), 6))
  }

  /** Probability-score quality in ONE map-side-combinable pass: Brier
    * score and log-loss (scores clamped to [eps, 1-eps] — the sklearn
    * convention, stated identically in the oracle) plus calibration
    * deciles would each re-scan, so they live apart ([[calibrationBins]]).
    * Returns one row: (n, brier, log_loss).
    */
  def probScores(df: DataFrame, scoreCol: String, labelCol: String,
                 eps: Double = 1e-15): DataFrame = {
    val p = least(lit(1.0 - eps), greatest(lit(eps), col(scoreCol)))
    val y = col(labelCol).cast("double")
    df.agg(count(lit(1)).as("n"),
      round(avg((p - y) * (p - y)), 6).as("brier"),
      round(-avg(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)), 6)
        .as("log_loss"))
  }

  /** Per-query ranking metrics from a retriever's ranked candidate
    * table (queryCol, rankCol 1-based, relCol 0/1 binary relevance):
    * recall@k, MRR, nDCG@k. ONE map-side-combinable aggregation per
    * query — the ranks come from the retriever (ANN / BM25 top-k), so
    * no window runs here; IDCG is an in-row fold over the min(k, n_rel)
    * ideal positions. Queries with zero relevant docs report 0 for all
    * three (the information-retrieval convention, stated identically in
    * oracles).
    */
  def rankingMetrics(df: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val rel = col(relCol).cast("long")
    val rk = col(rankCol).cast("long")
    df.groupBy(col(queryCol))
      .agg(
        sum(rel).as("n_rel"),
        sum(when(rel === 1L && rk <= k, 1L).otherwise(0L)).as("_relk"),
        min(when(rel === 1L, rk)).as("_first"),
        sum(when(rel === 1L && rk <= k,
          lit(1.0) / log2(rk.cast("double") + 1.0)).otherwise(0.0))
          .as("_dcg"))
      .withColumn("_idcg", when(col("n_rel") > 0, expr(
        s"aggregate(sequence(1, least(CAST($k AS BIGINT), n_rel)), " +
          "CAST(0.0 AS DOUBLE), (a, i) -> a + 1.0 / log2(i + 1))"))
        .otherwise(lit(0.0)))
      .select(col(queryCol), col("n_rel"),
        round(when(col("n_rel") > 0,
          col("_relk").cast("double") / col("n_rel")).otherwise(0.0), 6)
          .as("recall_k"),
        round(coalesce(lit(1.0) / col("_first"), lit(0.0)), 6).as("mrr"),
        round(when(col("_idcg") > 0, col("_dcg") / col("_idcg"))
          .otherwise(0.0), 6).as("ndcg_k"))
  }

  /** Reliability diagram: scores in [0, 1] bucketed into `bins`
    * equal-width bins → (bin, n, mean_score, frac_pos). One hash
    * aggregation; a calibrated model has mean_score ≈ frac_pos per bin.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins=$bins must be positive")
    // clamp BOTH edges (mirrors numericDrift): a stray score outside
    // [0, 1] — e.g. a raw margin handed in by mistake — lands in the
    // edge bin instead of minting negative/overflow bin ids
    df.select(
        greatest(lit(0L), least(lit(bins - 1L),
          floor(col(scoreCol) * bins).cast("long"))).as("bin"),
        col(scoreCol).as("s"), col(labelCol).cast("double").as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("s")), 6).as("mean_score"),
        round(avg(col("y")), 6).as("frac_pos"))
  }
}
