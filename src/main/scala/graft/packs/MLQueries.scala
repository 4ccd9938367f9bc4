package graft.packs

import graft.QueryPack
import graft.core.Tables
import graft.mlops.{ClusterOps, Composition, Eval, LinearOps, ModelIO, NaiveBayesOps, Scoring}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.functions._

/** Models-as-aggregations (SURVEY §2.4–2.6): Naive Bayes sufficient stats
  * and argmax predict, closed-form OLS, fixed-center k-means assignment,
  * Gramian — each with a full SQL oracle; iterative spark.ml fits
  * (logistic, k-means‖, SVD) are rows-only checked and unit-tested on
  * algebraic invariants instead.
  */
object MLQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // N1: Multinomial NB fit — smoothed log P(term|lang), full matrix.
    "n1_multinomial_nb_fit" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val toksWithClass = docs.select(col("lang"),
        explode(split(col("text"), " ")).as("term"))
      NaiveBayesOps.multinomialFit(toksWithClass, "lang", "term")
        .orderBy(col("lang"), col("term"))
    }),

    // N3: NB predict — argmax of log prior + Σ tf·logP; engine vs oracle
    // agree on full-precision scores.
    "n3_nb_predict_lang" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      // The token explode feeds both the class-conditional fit and the
      // per-doc tf counts; a localCheckpoint here was MEASURED a wash
      // (1.26s vs 1.04s at ~15% ambient drift, sf0.1 full set) — the
      // explode is cheap next to the two aggregations, so the lazy plan
      // keeps the memory and stays.
      val docTokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val classDocs = docs.select(col("doc_id"), col("lang"))
      NaiveBayesOps.multinomialPredict(docTokens, "doc_id", "term", classDocs, "lang")
        .join(classDocs.withColumnRenamed("lang", "actual"), "doc_id")
        .select(col("doc_id"), col("pred"), col("actual"),
          (col("pred") === col("actual")).cast("int").as("correct"))
        .orderBy(col("doc_id"))
    }),

    // N9: model-quality lang-id — char-TRIGRAM multinomial NB (the
    // fastText-class feature space real curation runs use) over a
    // CONFUSABLE fixture: every doc's words are the same shared
    // vocabulary (word-level signal ≈ none, cf. n3's ~chance per-class
    // accuracy on minority langs), and each language differs only by a
    // deterministic ASCII morphology suffix ([[langSurfaceSql]], shared
    // verbatim engine/oracle like the URL fixture) — so separation must
    // come from sub-word character patterns, which trigram NB recovers
    // near-perfectly. Output reports per-class accuracy (O(classes)
    // rows), pinning the separation measurably.
    "n9_nb_lang_chartrigram" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("surface", expr(langSurfaceSql))
      val tri = docs.select(col("doc_id"),
        explode(expr("""CASE WHEN length(surface) >= 3
          THEN transform(sequence(1, length(surface) - 2),
            i -> substring(surface, i, 3))
          ELSE array() END""")).as("term"))
      val classDocs = docs.select(col("doc_id"), col("lang"))
      val preds = NaiveBayesOps.multinomialPredict(tri, "doc_id", "term",
          classDocs, "lang")
        .join(classDocs.withColumnRenamed("lang", "actual"), "doc_id")
      NaiveBayesOps.accuracyByClass(preds, "pred", "actual")
        .orderBy(col("class"))
    }),

    // N3b: predict_proba — numerically-stable softmax of the per-doc
    // log-posteriors (reference predict_proba, splearn/naive_bayes.py).
    "n5_nb_predict_proba" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val docTokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val classDocs = docs.select(col("doc_id"), col("lang"))
      NaiveBayesOps.multinomialPredictProba(docTokens, "doc_id", "term",
        classDocs, "lang")
        .orderBy(col("doc_id"), col("lang"))
    }),

    // N3c: ClassifierMixin.score as an aggregation — per-class accuracy
    // plus an overall row; driver sees only the O(classes) summary.
    "n6_nb_accuracy" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val docTokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val classDocs = docs.select(col("doc_id"), col("lang"))
      val preds = NaiveBayesOps.multinomialPredict(docTokens, "doc_id",
        "term", classDocs, "lang")
        .join(classDocs.withColumnRenamed("lang", "actual"), "doc_id")
      NaiveBayesOps.accuracyByClass(preds, "pred", "actual")
        .orderBy(col("class"))
    }),

    // N2: Gaussian NB fit — per-(label, dim) mean/variance over the
    // embedding space (first 4 dims keep the oracle output compact).
    "n2_gaussian_nb_fit" -> ((s, dir) => {
      val lf = NaiveBayesOps.toLongForm(
        Tables(s, dir).embeddings, Seq("label"), "embedding", maxDim = 4)
      NaiveBayesOps.gaussianFit(lf, "label")
        .orderBy(col("label"), col("dim"))
    }),

    // N4: Gaussian NB predict — argmax log-density over the rounded fit
    // params (reproducible across engines), 4 dims, all 10 labels.
    "n4_gaussian_nb_predict" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val lf = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding", maxDim = 4)
      val fit = NaiveBayesOps.gaussianFit(lf, "label")
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding", maxDim = 4)
      NaiveBayesOps.gaussianPredict(pts, "vec_id", fit, "label")
        .orderBy(col("vec_id"))
    }),

    // N4b: Gaussian NB predict_proba — softmax twin of n5 over the
    // gaussian log-posteriors (same rounded-fit-in-predict rule as n4).
    "n7_gaussian_nb_proba" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val lf = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding", maxDim = 4)
      val fit = NaiveBayesOps.gaussianFit(lf, "label")
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding", maxDim = 4)
      NaiveBayesOps.gaussianPredictProba(pts, "vec_id", fit, "label")
        .where(col("vec_id") < 100)
        .orderBy(col("vec_id"), col("label"))
    }),

    // N4c: Gaussian NB score — per-class + overall accuracy aggregate
    // (class cast to string so the 'ALL' summary row unions cleanly).
    "n8_gaussian_nb_accuracy" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val lf = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding", maxDim = 4)
      val fit = NaiveBayesOps.gaussianFit(lf, "label")
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding", maxDim = 4)
      val preds = NaiveBayesOps.gaussianPredict(pts, "vec_id", fit, "label")
        .join(emb.select(col("vec_id"), col("label").as("actual")), "vec_id")
        .select(col("pred").cast("string").as("pred_s"),
          col("actual").cast("string").as("actual_s"))
      NaiveBayesOps.accuracyByClass(preds, "pred_s", "actual_s")
        .orderBy(col("class"))
    }),

    // L3: OLS closed form from distributed moments.
    "l3_ols_fit" -> ((s, dir) => {
      LinearOps.olsFit(Tables(s, dir).lineitem, "l_quantity", "l_extendedprice")
    }),

    // L5: bivariate OLS closed form (Cramer over the 3×3 normal
    // equations) — price ~ quantity + discount.
    "l5_ols_bivariate" -> ((s, dir) => {
      LinearOps.olsFitN(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_discount"), "l_extendedprice", roundTo = 6)
    }),

    // L6: trivariate OLS closed form — generated 4×4 Cramer; the oracle
    // below interpolates the SAME generated SQL text, so both engines
    // evaluate one arithmetic tree (see LinearOps.detSql).
    "l6_ols_trivariate" -> ((s, dir) => {
      LinearOps.olsFitN(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice",
        roundTo = 4)
    }),

    // L3d: GENERAL-d closed form — quadrivariate OLS via the generated
    // 5×5 Laplace/Cramer expansion (120-term determinants, same SQL
    // text on both engines). Pins LinearOps.detSql inductively past the
    // hand-checkable sizes.
    "l7_ols_quadrivariate" -> ((s, dir) => {
      LinearOps.olsFitN(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_discount", "l_tax", "l_linenumber"),
        "l_extendedprice")
    }),

    // L1: the reference's parameter-averaged fit (one model per block,
    // coefficients averaged) — expressed relationally and oracle-checked.
    "l1_block_averaged_ols" -> ((s, dir) => {
      val blocked = graft.operators.Blocking.withBlockId(
        Tables(s, dir).lineitem.select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
        bsize = 10000,
        orderCols = Seq(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")))
      LinearOps.blockAveragedOlsFit(blocked, "block_id",
        "l_quantity", "l_extendedprice")
    }),

    // L2: broadcast-model predict.
    "l2_ols_predict" -> ((s, dir) => {
      val t = Tables(s, dir)
      val fit = LinearOps.olsFit(t.lineitem, "l_quantity", "l_extendedprice")
      LinearOps.olsPredict(t.lineitem, fit, "l_quantity")
        .where(col("l_orderkey") < 20)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("prediction"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // C1/C2: one Lloyd assignment step against fixed deterministic centers
    // (per-label means — also the Gaussian NB theta).
    "c1_kmeans_assign" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val centers = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
        .groupBy(col("label").as("center_label"), col("dim"))
        .agg(avg(col("v")).as("c"))
      ClusterOps.assignToCenters(pts, centers, "vec_id", "center_label")
        .groupBy(col("center_label"))
        .agg(count(lit(1)).as("n_assigned"))
        .orderBy(col("center_label"))
    }),

    // L4b: the logistic-regression FIT itself, oracled — zero init,
    // 2 full-batch gradient steps, fixed rate, no intercept; the SQL
    // twin unrolls both steps. (ml L-BFGS stays as ml_logreg_predict.)
    "l4_logreg_gd" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val labels = emb.select(col("vec_id"),
        (col("label") % 2).cast("double").as("y"))
      LinearOps.logisticGdIterations(pts, labels, "vec_id", "y",
          iters = 2, lr = 0.1)
        .select(col("dim"), (round(col("w"), 6) + lit(0.0)).as("w"))
        .orderBy(col("dim"))
    }),

    // L4c: OvR MULTICLASS for the GD family (upstream SGDClassifier is
    // multiclass via one-vs-rest) — 3 classes (label % 3), every class's
    // 2-step zero-init binary GD in ONE plan (class id through the
    // weight frame), then argmax over per-class margins. The oracle
    // threads cls through l4's unroll and mirrors the argmax window.
    "l8_logreg_ovr" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val labels = emb.select(col("vec_id"),
        (col("label") % 3).cast("int").as("y3"))
      val w = LinearOps.logisticGdOvr(pts, labels, "vec_id", "y3",
        iters = 2, lr = 0.1)
      LinearOps.logisticOvrPredict(pts, w, "vec_id")
        .orderBy(col("vec_id"))
    }),

    // L10: predict_proba for the OvR GD family (upstream logistic
    // exposes it; NB has the n5/n7 proba twins) — per-class sigmoid
    // margins normalized across classes, long form. Same 2-step fit
    // as l8; the proba window is per-id over <= 3 rows.
    "l10_logreg_proba" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val labels = emb.select(col("vec_id"),
        (col("label") % 3).cast("int").as("y3"))
      val w = LinearOps.logisticGdOvr(pts, labels, "vec_id", "y3",
        iters = 2, lr = 0.1)
      LinearOps.logisticOvrProba(pts, w, "vec_id")
        .orderBy(col("vec_id"), col("cls"))
    }),

    // sample_weight for the closed-form family (sklearn-wide fit
    // signature), cabled to the DSIR importance weights this library
    // already computes: weighted 1-D OLS of distinct-token count on
    // token count over documents, w = exp(mean bigram log-ratio) — the
    // mixture-reweighted fit without materializing the resample.
    "l9_weighted_ols" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val iw = graft.text.TextAnalysis.importanceWeights(docs,
        docs.where(col("lang") === "en"), "doc_id", "text")
      val feats = docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("double").as("x"),
          size(array_distinct(split(col("text"), " "))).cast("double")
            .as("y"))
        .join(iw, "doc_id")
        .withColumn("w",
          exp(col("sum_mnat") / (col("n_bigrams") * lit(1e6))))
      LinearOps.olsFitWeighted(feats, "x", "y", "w")
    }),

    // The weighted-NB twin: integer doc weights (1 + doc_id % 3 — the
    // repeat-count reading of sample_weight), every NB sufficient
    // statistic a weighted sum. MLOpsSpec separately pins weighted fit
    // == fit on the row-replicated corpus.
    "n10_weighted_nb_fit" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .withColumn("w", (lit(1) + pmod(col("doc_id"), lit(3)))
          .cast("double"))
      val toks = docs.select(col("lang"), col("w"),
        explode(split(col("text"), " ")).as("term"))
      NaiveBayesOps.multinomialFitWeighted(toks, "lang", "term", "w")
        .orderBy(col("lang"), col("term"))
    }),

    // P6 persistence contract (upstream estimators pickled for free):
    // fit NB, SAVE the model bundle (log-prob matrix + class-doc
    // priors) to parquet, LOAD it back, and predict with BOTH the
    // fitted and the loaded model — the output carries both
    // predictions per doc and the oracle emits one prediction twice,
    // so the driver hash pins save → load → identical-predictions.
    "ml_model_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      val fit = NaiveBayesOps.multinomialFit(
        toks.select(col("lang"), col("term")), "lang", "term")
      val priors = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      // per-(sf, JVM) path: concurrent verify runs (e.g. both scale
      // factors) must not cross-load each other's bundle
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_model_rt_nb" +
        s"_${dir.replaceAll("[^A-Za-z0-9]", "")}_${ProcessHandle.current().pid()}"
      ModelIO.saveBundle(s, path,
        Map("nb_log_prob" -> fit, "nb_class_docs" -> priors))
      val loaded = ModelIO.loadBundle(s, path)
      val docTokens = toks.select(col("doc_id"), col("term"))
      val pf = NaiveBayesOps.multinomialPredictFromModel(docTokens,
          "doc_id", "term", fit, "lang", priors)
        .withColumnRenamed("pred", "pred_fit")
      val pl = NaiveBayesOps.multinomialPredictFromModel(docTokens,
          "doc_id", "term", loaded("nb_log_prob"), "lang",
          loaded("nb_class_docs"))
        .withColumnRenamed("pred", "pred_loaded")
      pf.join(pl, "doc_id").orderBy(col("doc_id"))
    }),

    // L1 classification: the reference's block-averaged logistic —
    // per-block deterministic 2-step GD (md5-assigned 2 blocks, all
    // blocks fit in one pass per step) then unweighted coefficient
    // average, the splearn __add__ merge algebra. The oracle unrolls both
    // GD steps per block and averages.
    "l1_block_averaged_logistic" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
        .withColumn("blk", pmod(graft.functions.GraftFunctions
          .md5Long(col("vec_id").cast("string"), 8), lit(2)).cast("int"))
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id", "blk"),
        "embedding")
      val labels = emb.select(col("vec_id"),
        (col("label") % 2).cast("double").as("y"))
      LinearOps.blockAveragedLogisticGd(pts, labels, "vec_id", "blk", "y",
          iters = 2, lr = 0.1)
        .orderBy(col("dim"))
    }),

    // C2: the kmeans FIT itself, oracled — deterministic seeding (k
    // lowest-id points) + exactly 2 Lloyd rounds, unrolled in the SQL
    // twin. The RNG-seeded ml k-means‖ stays as the rows-only
    // ml_kmeans_sizes; this pins the algorithm's arithmetic.
    "c2_kmeans_lloyd" -> ((s, dir) => {
      val pts = NaiveBayesOps.toLongForm(
        Tables(s, dir).embeddings, Seq("vec_id"), "embedding")
      ClusterOps.lloydIterations(pts, "vec_id", k = 8, iters = 2)
        // + 0.0 normalizes IEEE negative zero (-0.0 -> 0.0): engines
        // disagree on the sign of a rounded -0.00001 and the driver's
        // string canonicalization would see two different rows
        .select(col("cid"), col("dim"), (round(col("c"), 4) + lit(0.0)).as("c"))
        .orderBy(col("cid"), col("dim"))
    }),

    // C3: Gramian XᵀX upper triangle (the reference's treeReduce(Σ XᵀX),
    // `splearn/decomposition/truncated_svd.py:~L10`).
    "c3_gramian" -> ((s, dir) => {
      ClusterOps.gramian(Tables(s, dir).embeddings, "vec_id", "embedding", maxDim = 6)
        .orderBy(col("dim_i"), col("dim_j"))
    }),

    // C4: the reference's svd_em (iterative SVD) as deterministic power
    // iteration — fixed start e1, fixed 8 rounds, sign-canonicalized —
    // so the full 64-dim top singular vector gets a VALUE-level oracle
    // (the unrolled-iteration SQL below), not just invariants.
    "c4_svd_power" -> ((s, dir) => {
      ClusterOps.powerIterationTop(Tables(s, dir).embeddings,
          "vec_id", "embedding", iters = 8)
        .orderBy(col("dim"))
    }),

    // C4/C5 at k=2: TRUNCATED svd (plural components) with Hotelling
    // deflation between the fixed-round loops — the deflation arithmetic
    // is on the d²-row Gramian frame, so component 2 is exactly as
    // SQL-reproducible as component 1.
    "c4_svd_power2" -> ((s, dir) => {
      ClusterOps.powerIterationComponents(Tables(s, dir).embeddings,
          "vec_id", "embedding", k = 2, iters = 8)
        .orderBy(col("comp"), col("dim"))
    }),

    // C7: the SAME top-2 fit by orthogonal (subspace) iteration — the
    // QR-in-SQL block algorithm production eigensolvers use where
    // one-at-a-time deflation stalls on clustered spectra. The oracle
    // unrolls every round's G·V and the Gram-Schmidt step
    // (projection coefficient, subtraction, window normalization) —
    // QR literally expressed in SQL.
    "c7_orth_iter2" -> ((s, dir) => {
      ClusterOps.orthogonalIteration(Tables(s, dir).embeddings,
          "vec_id", "embedding", k = 2, iters = 8)
        .orderBy(col("comp"), col("dim"))
    }),

    // C8: top-3 by the same subspace iteration — the k where MODIFIED
    // Gram-Schmidt first differs from classical (component 3 subtracts
    // its q1 projection, then re-projects the RESIDUAL onto q2). The
    // oracle unrolls every round's G·V and the full MGS ladder —
    // sequential coefficient/residual CTEs, window normalizations.
    "c8_orth_iter3" -> ((s, dir) => {
      ClusterOps.orthogonalIteration(Tables(s, dir).embeddings,
          "vec_id", "embedding", k = 3, iters = 8)
        .orderBy(col("comp"), col("dim"))
    }),

    // C5: truncated-SVD projection, deterministic form — every row
    // projected onto the fixed-round power-iteration component, so the
    // fit AND the transform carry a value-level oracle (was rows-only
    // when the vector came from ARPACK, whose iterates no SQL engine can
    // replay; the ARPACK path stays covered by MLOpsSpec invariants and
    // the closed-form d=2 twin c6_svd2_project).
    "c5_svd_project" -> ((s, dir) => {
      ClusterOps.powerProjectTop(Tables(s, dir).embeddings,
          "vec_id", "embedding", iters = 8)
        .select(col("vec_id"),
          (round(col("pc1"), 4) + lit(0.0)).as("pc1"))
        .orderBy(col("vec_id"))
    }),

    // C5b: the SAME svdProject path on a 2-feature slice, where the top
    // right-singular-vector has a closed form the oracle can compute:
    // for Gramian [[a,b],[b,c]], λ = ((a+c)+sqrt((a−c)²+4b²))/2 and
    // v ∝ (b, λ−a), normalized + sign-canonicalized exactly like fitSvd
    // (largest-|component| made positive). Graduates SVD (SURVEY C4/C5)
    // from rows-only to a full hash check.
    "c6_svd2_project" -> ((s, dir) => {
      val two = Tables(s, dir).embeddings.select(col("vec_id"),
        array(element_at(col("embedding"), 1).cast("double"),
          element_at(col("embedding"), 2).cast("double")).as("xy"))
      ClusterOps.svdProject(two, "vec_id", "xy", k = 1)
        .select(col("vec_id"),
          (round(element_at(col("proj"), 1), 5) + lit(0.0)).as("pc1"))
        .orderBy(col("vec_id"))
    }),

    // L4: spark.ml logistic regression predict, value-oracled (graduated
    // from rows-only in r9). The task is constructed linearly separable
    // WITH a margin band: y = sign(e1+e2), rows with |e1+e2| <= 0.05
    // excluded (the band filter is on raw data, so the oracle can express
    // it). On separable data with regParam 0, L-BFGS drives the training
    // margins decisive (measured min |p-0.5| ~ 0.5 at every SF; the
    // label%2 variant was abandoned because its min margin was 4e-5 —
    // engine-unstable). The oracle asserts prediction == y for every
    // banded row, i.e. the whole fit+predict path separates a separable
    // task — a value-level check of real model output, robust because no
    // point sits near the learned boundary. Elements are cast to double
    // BEFORE the addition so the band compare is bit-identical to the
    // oracle's double arithmetic (float add then promote differs near
    // the threshold).
    "ml_logreg_predict" -> ((s, dir) => {
      val banded = Tables(s, dir).embeddings
        .withColumn("m", element_at(col("embedding"), 1).cast("double")
          + element_at(col("embedding"), 2).cast("double"))
        .where(abs(col("m")) > 0.05)
        .withColumn("y", (col("m") > 0).cast("double"))
      LinearOps.fitLogisticPredictNative(banded, "embedding", "y", maxIter = 100)
        .groupBy(col("y"), col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("y"), col("prediction"))
    }),

    // P2 FeatureUnion: horizontally stack per-column "transformer"
    // outputs (VectorAssembler = the reference's hstack), then summarize
    // each assembled vector to scalars the oracle can recompute from the
    // raw columns — dim, nnz, L2 — so the stacking semantics (order,
    // zero handling, width) are hash-pinned, not just spec'd.
    "p2_feature_union" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .where(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("f_qty"),
          col("l_discount").cast("double").as("f_disc"),
          col("l_tax").cast("double").as("f_tax"))
      Composition.featureUnion(Seq("f_qty", "f_disc", "f_tax"), "features")
        .transform(li)
        .select(col("l_orderkey"), col("l_linenumber"),
          vector_to_array(col("features")).as("arr"))
        .select(col("l_orderkey"), col("l_linenumber"),
          size(col("arr")).as("dim"),
          expr("size(filter(arr, x -> x != 0D))").as("nnz"),
          (round(sqrt(expr(
            "aggregate(arr, 0D, (acc, x) -> acc + x * x)")), 4) + lit(0.0))
            .as("l2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P2b: FeatureUnion transformer_weights — blocks scaled before the
    // hstack; powers-of-two weights keep the scaling FP-exact on both
    // engines, and the ZERO weight pins sklearn's semantics (the block
    // zeroes, it does not drop: dim stays 3, nnz excludes it).
    "p7_feature_union_weighted" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
        .where(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("f_qty"),
          col("l_discount").cast("double").as("f_disc"),
          col("l_tax").cast("double").as("f_tax"))
      Composition.featureUnionWeighted(li,
          Seq("f_qty", "f_disc", "f_tax"), Seq(2.0, 0.5, 0.0), "features")
        .select(col("l_orderkey"), col("l_linenumber"),
          vector_to_array(col("features")).as("arr"))
        .select(col("l_orderkey"), col("l_linenumber"),
          size(col("arr")).as("dim"),
          expr("size(filter(arr, x -> x != 0D))").as("nnz"),
          (round(sqrt(expr(
            "aggregate(arr, 0D, (acc, x) -> acc + x * x)")), 4) + lit(0.0))
            .as("l2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P3 make_pipeline: the varargs pipeline assembler on anonymous
    // stages, VALUE-oracled (graduated from test-only): two
    // SQLTransformer stages compose in declaration order — the second
    // reads the first's derived column — and the fitted PipelineModel's
    // transform is a deterministic query DuckDB replays directly.
    "p3_make_pipeline" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val st1 = new org.apache.spark.ml.feature.SQLTransformer().setStatement(
        "SELECT doc_id, lang, n_chars, n_chars * 2 AS n2 FROM __THIS__")
      val st2 = new org.apache.spark.ml.feature.SQLTransformer().setStatement(
        "SELECT doc_id, lang, round(ln(n2 + 1.0), 6) AS log_n2 FROM __THIS__")
      Composition.fitPipeline(docs, st1, st2).transform(docs)
        .select(col("doc_id"), col("lang"),
          (col("log_n2") + lit(0.0)).as("log_n2"))
        .orderBy(col("doc_id"))
    }),

    // P5 broadcast: the reference's driver-shipped small side as a
    // VERIFIED plan property, not posture — the dimension join must
    // actually plan a BroadcastHashJoin (no shuffle of the fact side).
    // If Spark ever chose a shuffled join here, broadcast_used flips
    // false and the hash breaks; the per-segment counts pin the join's
    // semantics at the same time.
    "p5_broadcast_plan" -> ((s, dir) => {
      val t = Tables(s, dir)
      val joined = t.orders.join(
        broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      val used = joined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("broadcast_used", lit(used))
        .orderBy(col("c_mktsegment"))
    }),

    // mllib k-means with PINNED per-label-mean seeds and exactly 2 Lloyd
    // updates (setInitialModel + epsilon=0: no RNG anywhere), final
    // assignment by exact squared distance — the distributed mllib fit,
    // hash-checked against the oracle's update-for-update SQL replay
    // (graduated from rows-only). id_sum pins membership, not just
    // sizes.
    "ml_kmeans_sizes" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val centers = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
        .groupBy(col("label").cast("int").as("cid"), col("dim"))
        .agg(avg(col("v")).as("c"))
      ClusterOps.fitKMeansPinned(emb, "vec_id", "embedding",
          centers, "cid", iters = 2)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
        .orderBy(col("cid"))
    }),

    // P4: grid search / cross validation (reference SparkGridSearchCV,
    // splearn/grid_search.py:~L10). Deterministic form: md5-assigned
    // 3-fold CV over a closed-form ridge grid — every number SQL-
    // reproducible, so P4 gets a full value-level oracle. (The ml
    // CrossValidator twin gridSearchLogistic stays spec-covered in
    // ContractSpec; its L-BFGS fits aren't bit-stable across platforms.)
    "cv_grid_search" -> ((s, dir) => {
      Composition.cvRidgeUnivariate(Tables(s, dir).lineitem,
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          col("l_quantity"), col("l_extendedprice") / lit(1000.0),
          lambdas = Seq(0.0, 100.0, 10000.0), k = 3)
        .orderBy(col("grid_idx"))
    }),

    // P4 MULTI-AXIS grid search: λ × candidate feature — the full
    // 2×3-point grid's cross-validated scores from two linear scans
    // (stacked features, broadcast model set). Same deterministic
    // md5-fold closed-form ridge as cv_grid_search.
    "cv_grid_search_multi" -> ((s, dir) => {
      Composition.cvRidgeGrid(Tables(s, dir).lineitem,
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          Seq("l_quantity" -> col("l_quantity"),
            "l_discount" -> (col("l_discount") * lit(100.0))),
          col("l_extendedprice") / lit(1000.0),
          lambdas = Seq(0.0, 100.0, 10000.0), k = 3)
        .orderBy(col("feature"), col("grid_idx"))
    }),

    // P4 GENERIC pipeline grid search: CountVectorizer vocab cap ×
    // NB Laplace α over a real two-stage text pipeline, md5-2-fold CV,
    // held-out accuracy per grid point, `chosen` on the best. Every
    // step deterministic (top-cap vocab with (count DESC, term) ties,
    // closed-form NB, argmax ties to first class) so the oracle unrolls
    // the whole grid in SQL — the estimator-agnostic surface upstream's
    // SparkGridSearchCV wrapped with a driver loop.
    "cv_grid_search_pipeline" -> ((s, dir) => {
      Composition.cvNbPipelineGrid(Tables(s, dir).documentsSpread, "doc_id",
          "text", "lang", caps = Seq(8, 32), alphas = Seq(0.5, 1.0), k = 2)
        .orderBy(col("vocab_cap"), col("alpha"))
    }),

    // Multi-feature linear regression via spark.ml — solver="normal"
    // (exact WLS/Cholesky on one pass of sufficient statistics), so the
    // fit is deterministic and the Cramer closed form is its oracle
    // (graduated from rows-only; the L-BFGS path keeps ml_logreg_predict).
    "ml_linreg_fit" -> ((s, dir) => {
      LinearOps.fitLinear(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_discount", "l_tax"), "l_extendedprice")
        .select((round(col("intercept"), 3) + lit(0.0)).as("b0"),
          (round(element_at(col("coefficients"), 1), 3) + lit(0.0)).as("b1"),
          (round(element_at(col("coefficients"), 2), 3) + lit(0.0)).as("b2"),
          (round(element_at(col("coefficients"), 3), 3) + lit(0.0)).as("b3"))
    }),

    // base.py parity: the ONE scoring entry point every estimator
    // family shares (ClassifierMixin accuracy, RegressorMixin R²,
    // KMeans negative inertia) — three families' predictions routed
    // through the SAME Scoring.score dispatch, one summary row each.
    "ml_score_uniform" -> ((s, dir) => {
      val t = Tables(s, dir)
      val docs = t.documents
      val docTokens = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val classDocs = docs.select(col("doc_id"), col("lang"))
      val nbPreds = NaiveBayesOps.multinomialPredict(docTokens, "doc_id",
          "term", classDocs, "lang")
        .join(classDocs.withColumnRenamed("lang", "actual"), "doc_id")
      val clf = Scoring.score(nbPreds, "classify", "actual", "pred")
        .select(lit("nb_multinomial").as("estimator"), col("kind"),
          col("n"), col("score"))
      val fit = LinearOps.olsFit(t.lineitem, "l_quantity",
        "l_extendedprice")
      val regPreds = t.lineitem.crossJoin(broadcast(fit))
        .select(col("l_extendedprice").as("actual"),
          (col("intercept") + col("slope") * col("l_quantity")).as("pred"))
      val reg = Scoring.score(regPreds, "regress", "actual", "pred")
        .select(lit("ols_univariate").as("estimator"), col("kind"),
          col("n"), col("score"))
      val emb = t.embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val centers = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
        .groupBy(col("label").as("center_label"), col("dim"))
        .agg(avg(col("v")).as("c"))
      val assign = ClusterOps.assignToCenters(pts, centers, "vec_id",
        "center_label")
      val clu = Scoring.score(assign, "cluster", "", "dist2")
        .select(lit("kmeans_assign").as("estimator"), col("kind"),
          col("n"), col("score"))
      clf.unionByName(reg).unionByName(clu).orderBy(col("estimator"))
    }),

    // Segmented scoring (the model-monitoring view): ONE global model's
    // score per segment through the same Scoring dispatch — the global
    // OLS fit's R² per l_returnflag (which segment does the global line
    // underserve) and per-center negative inertia of the fixed-center
    // assignment. The many-models twin olsFitGrouped FITS per group;
    // this EVALUATES one fit across groups, one keyed aggregation each.
    "ml_score_by_group" -> ((s, dir) => {
      val t = Tables(s, dir)
      val fit = LinearOps.olsFit(t.lineitem, "l_quantity",
        "l_extendedprice")
      val regPreds = t.lineitem.crossJoin(broadcast(fit))
        .select(col("l_returnflag"),
          col("l_extendedprice").as("actual"),
          (col("intercept") + col("slope") * col("l_quantity")).as("pred"))
      val reg = Scoring.scoreBy(regPreds, "regress", "l_returnflag",
          "actual", "pred")
        .select(lit("ols_univariate").as("estimator"), col("group"),
          col("kind"), col("n"), col("score"))
      val emb = t.embeddings
      val pts = NaiveBayesOps.toLongForm(emb, Seq("vec_id"), "embedding")
      val centers = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
        .groupBy(col("label").as("center_label"), col("dim"))
        .agg(avg(col("v")).as("c"))
      val assign = ClusterOps.assignToCenters(pts, centers, "vec_id",
        "center_label")
      val clu = Scoring.scoreBy(assign, "cluster", "center_label", "",
          "dist2")
        .select(lit("kmeans_assign").as("estimator"), col("group"),
          col("kind"), col("n"), col("score"))
      reg.unionByName(clu).orderBy(col("estimator"), col("group"))
    }),

    // sklearn.metrics.classification_report as ONE confusion
    // aggregation + class-cardinality arithmetic (Eval.scala): per-class
    // precision/recall/F1/support of a deterministic quantity-tercile
    // rule predicting l_returnflag. The metric is what's under test —
    // the predictor is a fixed rule so the oracle states it verbatim.
    "ml_eval_report" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        col("l_returnflag").as("label"),
        when(col("l_quantity") < 17, "A")
          .when(col("l_quantity") < 34, "N").otherwise("R").as("pred"))
      Eval.classificationReport(d, "label", "pred").orderBy(col("cls"))
    }),

    // Exact tie-aware AUC (Mann-Whitney average ranks) over the
    // quantized-score histogram — the rank window runs on the BOUNDED
    // distinct-score frame, never the corpus (Eval.aucExact scaladoc).
    // discount+tax/10 has ~99 distinct values here: heavy ties, so the
    // average-rank correction is load-bearing in the hash compare.
    "ml_auc_exact" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        (col("l_discount") + col("l_tax") / 10).as("score"),
        (col("l_returnflag") === "R").cast("int").as("y"))
      Eval.aucExact(d, "score", "y", quantize = 6)
    }),

    // Segmented AUC — the model-monitoring view (which segment does the
    // model underserve), Scoring.scoreBy's evaluation twin: per-group
    // histograms rank in parallel, each bounded by the quantization.
    "ml_auc_by_group" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        col("l_linestatus").as("grp"),
        (col("l_discount") + col("l_tax") / 10).as("score"),
        (col("l_returnflag") === "R").cast("int").as("y"))
      Eval.aucExactBy(d, "score", "y", "grp", quantize = 6)
        .orderBy(col("grp"))
    }),

    // Brier + log-loss in one pass (sklearn eps-clamp convention stated
    // identically in the oracle); the probability is discount rescaled
    // to [0, 1].
    "ml_brier_logloss" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        (col("l_discount") * 10).as("p"),
        (col("l_returnflag") === "R").cast("int").as("y"))
      Eval.probScores(d, "p", "y")
    }),

    // Reliability diagram: 10 equal-width bins over the [0,1] score,
    // per-bin mean score vs observed positive rate.
    "ml_calibration_bins" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        (col("l_discount") * 10).as("p"),
        (col("l_returnflag") === "R").cast("int").as("y"))
      Eval.calibrationBins(d, "p", "y", bins = 10).orderBy(col("bin"))
    }),

    // Cohen's kappa: chance-corrected agreement between the returnflag
    // "annotator" and the quantity-tercile rule — one confusion pass +
    // class-cardinality marginals; kappa computed from the ROUNDED
    // po/pe (the oracle mirrors the convention).
    "ml_cohens_kappa" -> ((s, dir) => {
      val d = Tables(s, dir).lineitem.select(
        col("l_returnflag").as("a1"),
        when(col("l_quantity") < 17, "A")
          .when(col("l_quantity") < 34, "N").otherwise("R").as("a2"))
      Eval.cohensKappa(d, "a1", "a2")
    }),

    // Retrieval metrics over a deterministic ranked-candidate fixture
    // (10 queries x 20 candidates, rel = doc_id % 7 == 0): recall@5,
    // MRR, nDCG@5 — the metric is one groupBy over retriever-provided
    // ranks; IDCG is an in-row fold over the ideal positions.
    "ml_ranking_metrics" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q")).orderBy(col("doc_id"))
      val cand = Tables(s, dir).documents.where(col("doc_id") < 200)
        .select((col("doc_id") % 10).as("q"), col("doc_id"),
          (col("doc_id") % 7 === 0).cast("int").as("rel"))
        .withColumn("rank", row_number().over(w))
      Eval.rankingMetrics(cand, "q", "rank", "rel", k = 5)
        .orderBy(col("q"))
    }),

    // Regression error report of the broadcast OLS fit: MAE/RMSE/MAPE/
    // R² in one map-side-combinable pass (Eval.regressionReport) —
    // completes the eval family's regression leg next to Scoring's R².
    "ml_regression_report" -> ((s, dir) => {
      val t = Tables(s, dir).lineitem
      val fit = LinearOps.olsFit(t, "l_quantity", "l_extendedprice")
      val preds = t.crossJoin(broadcast(fit))
        .select(col("l_extendedprice").as("actual"),
          (col("intercept") + col("slope") * col("l_quantity"))
            .as("pred"))
      Eval.regressionReport(preds, "actual", "pred")
    }),

    // Numeric-column drift: PSI/KL/JS between the odd- and even-order
    // halves' extendedprice distributions over 20 fixed-width bins —
    // the numeric twin of drift_token_psi (reference defines the bins).
    "drift_numeric_psi" -> ((s, dir) => {
      val li = Tables(s, dir).lineitem
      graft.stats.Profile.numericDrift(
        li.where(col("l_orderkey") % 2 === 0),
        li.where(col("l_orderkey") % 2 === 1),
        "l_extendedprice", bins = 20, lo = 0.0, hi = 110000.0)
    })
  )

  /** Unrolled power-iteration CTE chain: the same fixed-round
    * v ← G·v/‖G·v‖ recurrence as ClusterOps.powerIterationTop, one CTE
    * pair per round (recursive CTEs can't carry the per-round
    * normalization aggregate, so the fixed iteration count is generated
    * textually). Shared by the c4 fit oracle and the c5 projection
    * oracle.
    */
  private def powerIterCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |g AS (
        |  SELECT i.dim AS di, j.dim AS dj, sum(i.v * j.v) AS g
        |  FROM pts i JOIN pts j ON i.vec_id = j.vec_id
        |  GROUP BY i.dim, j.dim),
        |v0 AS (SELECT DISTINCT di AS dim,
        |  CASE WHEN di = 1 THEN 1.0 ELSE 0.0 END AS v FROM g)""".stripMargin)
    // Normalization via a window aggregate, NOT a separate norm CTE
    // cross-joined back: a second reference to w_t makes a naive CTE
    // inliner expand the iteration chain exponentially (2^iters copies
    // of the Gramian join). Single-reference chain = linear.
    for (t <- 1 to iters) {
      sb.append(s""",
        |w$t AS (SELECT g.di AS dim, sum(g.g * v${t - 1}.v) AS w
        |  FROM g JOIN v${t - 1} ON g.dj = v${t - 1}.dim GROUP BY g.di),
        |v$t AS (SELECT dim,
        |  CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |    THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM w$t)""".stripMargin)
    }
    sb.toString
  }

  private def powerIterOracle(iters: Int): String =
    s"""WITH ${powerIterCtes(iters)},
      |wf AS (SELECT g.di AS dim, sum(g.g * v$iters.v) AS w
      |  FROM g JOIN v$iters ON g.dj = v$iters.dim GROUP BY g.di),
      |lam AS (SELECT sqrt(sum(w * w)) AS l FROM wf),
      |sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
      |  FROM v$iters ORDER BY abs(v) DESC, dim LIMIT 1)
      |SELECT v$iters.dim, round(v$iters.v * sgn.s, 6) + 0.0 AS v,
      |  round(sqrt(lam.l), 4) + 0.0 AS sigma
      |FROM v$iters CROSS JOIN sgn CROSS JOIN lam
      |ORDER BY dim""".stripMargin

  /** c5 oracle: project every row onto the (sign-canonicalized, 6-dp
    * rounded — the engine's published precision) power-iteration vector.
    */
  private def powerProjectOracle(iters: Int): String =
    s"""WITH ${powerIterCtes(iters)},
      |sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
      |  FROM v$iters ORDER BY abs(v) DESC, dim LIMIT 1),
      |vec AS (SELECT dim, round(v$iters.v * sgn.s, 6) + 0.0 AS pv
      |  FROM v$iters CROSS JOIN sgn)
      |SELECT p.vec_id, round(sum(p.v * vec.pv), 4) + 0.0 AS pc1
      |FROM pts p JOIN vec ON p.dim = vec.dim
      |GROUP BY p.vec_id
      |ORDER BY p.vec_id""".stripMargin

  /** k-component oracle: per component, the same unrolled loop as
    * [[powerIterCtes]] over the CURRENT Gramian, then Hotelling
    * deflation (g_c = g_{c-1} − λ·v·vᵀ on the unrounded vector) feeding
    * the next loop. Multi-referenced CTEs (each Gramian, each final
    * vector, each λ) are MATERIALIZED — DuckDB's inliner would otherwise
    * expand the component chains multiplicatively (the second
    * component's 8 rounds each re-reference g1, whose tree contains the
    * whole first-component chain).
    */
  private def powerComponentsOracle(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |g0 AS MATERIALIZED (
        |  SELECT i.dim AS di, j.dim AS dj, sum(i.v * j.v) AS g
        |  FROM pts i JOIN pts j ON i.vec_id = j.vec_id
        |  GROUP BY i.dim, j.dim)""".stripMargin)
    for (c <- 1 to k) {
      val gp = s"g${c - 1}"
      sb.append(s""",
        |c${c}v0 AS (SELECT DISTINCT di AS dim,
        |  CASE WHEN di = 1 THEN 1.0 ELSE 0.0 END AS v FROM $gp)""".stripMargin)
      for (t <- 1 to iters) {
        val mat = if (t == iters) " MATERIALIZED" else ""
        // zero-norm guard mirrors the engine: past-rank components
        // degrade to the zero vector, never NaN
        sb.append(s""",
          |c${c}w$t AS (SELECT g.di AS dim, sum(g.g * c${c}v${t - 1}.v) AS w
          |  FROM $gp g JOIN c${c}v${t - 1} ON g.dj = c${c}v${t - 1}.dim
          |  GROUP BY g.di),
          |c${c}v$t AS$mat (SELECT dim,
          |  CASE WHEN sqrt(sum(w * w) OVER ()) > 0
          |    THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
          |  FROM c${c}w$t)""".stripMargin)
      }
      sb.append(s""",
        |c${c}wf AS (SELECT g.di AS dim, sum(g.g * c${c}v$iters.v) AS w
        |  FROM $gp g JOIN c${c}v$iters ON g.dj = c${c}v$iters.dim
        |  GROUP BY g.di),
        |c${c}lam AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS l FROM c${c}wf),
        |c${c}sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
        |  FROM c${c}v$iters ORDER BY abs(v) DESC, dim LIMIT 1)""".stripMargin)
      if (c < k) sb.append(s""",
        |g$c AS MATERIALIZED (
        |  SELECT a.di, a.dj, a.g - c${c}lam.l * va.v * vb.v AS g
        |  FROM $gp a
        |  JOIN c${c}v$iters va ON a.di = va.dim
        |  JOIN c${c}v$iters vb ON a.dj = vb.dim
        |  CROSS JOIN c${c}lam)""".stripMargin)
    }
    sb.append((1 to k).map { c =>
      s"""
        |SELECT $c AS comp, c${c}v$iters.dim,
        |  round(c${c}v$iters.v * c${c}sgn.s, 6) + 0.0 AS v,
        |  round(sqrt(c${c}lam.l), 4) + 0.0 AS sigma
        |FROM c${c}v$iters CROSS JOIN c${c}sgn CROSS JOIN c${c}lam""".stripMargin
    }.mkString("", "\nUNION ALL", "\nORDER BY comp, dim"))
    sb.toString
  }

  /** Unrolled orthogonal-iteration oracle, k=2: per round, W = G·V for
    * both columns at once, then classical Gram-Schmidt — q₁ is a window
    * normalization of W's first column, the projection coefficient
    * r = q₁·w₂ is a 1-row CTE, u₂ = w₂ − r·q₁ plain arithmetic, q₂
    * another window normalization. Zero-norm guard and sign rule mirror
    * the engine exactly. MATERIALIZED on the frames referenced more than
    * once keeps the CTE chain linear, not exponential.
    */
  private def orthIter2Oracle(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |g AS MATERIALIZED (
        |  SELECT i.dim AS di, j.dim AS dj, sum(i.v * j.v) AS g
        |  FROM pts i JOIN pts j ON i.vec_id = j.vec_id
        |  GROUP BY i.dim, j.dim),
        |v0 AS (SELECT DISTINCT di AS dim, c.comp,
        |  CASE WHEN di = c.comp THEN 1.0 ELSE 0.0 END AS v
        |  FROM g CROSS JOIN (VALUES (1), (2)) c(comp))""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(s""",
        |w$t AS MATERIALIZED (
        |  SELECT g.di AS dim, v.comp, sum(g.g * v.v) AS w
        |  FROM g JOIN v${t - 1} v ON g.dj = v.dim
        |  GROUP BY g.di, v.comp),
        |q1_$t AS MATERIALIZED (
        |  SELECT dim, 1 AS comp,
        |    CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |      THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM w$t WHERE comp = 1),
        |r$t AS (SELECT sum(q.v * w.w) AS r
        |  FROM q1_$t q JOIN w$t w ON q.dim = w.dim AND w.comp = 2),
        |u$t AS (SELECT w.dim, w.w - r$t.r * q.v AS w
        |  FROM w$t w JOIN q1_$t q ON w.dim = q.dim CROSS JOIN r$t
        |  WHERE w.comp = 2),
        |q2_$t AS (SELECT dim, 2 AS comp,
        |  CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |    THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM u$t),
        |v$t AS MATERIALIZED (
        |  SELECT dim, comp, v FROM q1_$t
        |  UNION ALL SELECT dim, comp, v FROM q2_$t)""".stripMargin)
    }
    sb.append(s""",
      |wf AS MATERIALIZED (
      |  SELECT g.di AS dim, v.comp, sum(g.g * v.v) AS w
      |  FROM g JOIN v$iters v ON g.dj = v.dim
      |  GROUP BY g.di, v.comp),
      |lam AS (SELECT comp, sqrt(sum(w * w)) AS l FROM wf GROUP BY comp),
      |sgn AS (SELECT comp, CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
      |  FROM (SELECT comp, dim, v, row_number() OVER (
      |      PARTITION BY comp ORDER BY abs(v) DESC, dim) AS rn
      |    FROM v$iters) WHERE rn = 1)
      |SELECT v.comp, v.dim, round(v.v * sgn.s, 6) + 0.0 AS v,
      |  round(sqrt(lam.l), 4) + 0.0 AS sigma
      |FROM v$iters v JOIN sgn ON v.comp = sgn.comp
      |JOIN lam ON v.comp = lam.comp
      |ORDER BY v.comp, v.dim""".stripMargin)
    sb.toString
  }

  /** Unrolled orthogonal-iteration oracle, k=3 with TRUE MGS: per
    * round, W = G·V for all three columns, q₁ a window normalization,
    * then the modified-Gram-Schmidt ladder for components 2 and 3 —
    * each projection coefficient is taken against the RUNNING residual
    * (r31 = q₁·w₃, u31 = w₃ − r31·q₁, r32 = q₂·u31, u32 = u31 −
    * r32·q₂), exactly the engine's sequential subtraction order.
    * Zero-norm guard and sign rule mirror the engine; MATERIALIZED on
    * every multiply-referenced frame keeps the chain linear.
    */
  private def orthIter3Oracle(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |g AS MATERIALIZED (
        |  SELECT i.dim AS di, j.dim AS dj, sum(i.v * j.v) AS g
        |  FROM pts i JOIN pts j ON i.vec_id = j.vec_id
        |  GROUP BY i.dim, j.dim),
        |v0 AS (SELECT DISTINCT di AS dim, c.comp,
        |  CASE WHEN di = c.comp THEN 1.0 ELSE 0.0 END AS v
        |  FROM g CROSS JOIN (VALUES (1), (2), (3)) c(comp))""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(s""",
        |w$t AS MATERIALIZED (
        |  SELECT g.di AS dim, v.comp, sum(g.g * v.v) AS w
        |  FROM g JOIN v${t - 1} v ON g.dj = v.dim
        |  GROUP BY g.di, v.comp),
        |q1_$t AS MATERIALIZED (
        |  SELECT dim, 1 AS comp,
        |    CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |      THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM w$t WHERE comp = 1),
        |r21_$t AS (SELECT sum(q.v * w.w) AS r
        |  FROM q1_$t q JOIN w$t w ON q.dim = w.dim AND w.comp = 2),
        |u2_$t AS (SELECT w.dim, w.w - r21_$t.r * q.v AS w
        |  FROM w$t w JOIN q1_$t q ON w.dim = q.dim CROSS JOIN r21_$t
        |  WHERE w.comp = 2),
        |q2_$t AS MATERIALIZED (
        |  SELECT dim, 2 AS comp,
        |    CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |      THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM u2_$t),
        |r31_$t AS (SELECT sum(q.v * w.w) AS r
        |  FROM q1_$t q JOIN w$t w ON q.dim = w.dim AND w.comp = 3),
        |u31_$t AS MATERIALIZED (SELECT w.dim, w.w - r31_$t.r * q.v AS w
        |  FROM w$t w JOIN q1_$t q ON w.dim = q.dim CROSS JOIN r31_$t
        |  WHERE w.comp = 3),
        |r32_$t AS (SELECT sum(q.v * u.w) AS r
        |  FROM q2_$t q JOIN u31_$t u ON q.dim = u.dim),
        |u32_$t AS (SELECT u.dim, u.w - r32_$t.r * q.v AS w
        |  FROM u31_$t u JOIN q2_$t q ON u.dim = q.dim CROSS JOIN r32_$t),
        |q3_$t AS (SELECT dim, 3 AS comp,
        |  CASE WHEN sqrt(sum(w * w) OVER ()) > 0
        |    THEN w / sqrt(sum(w * w) OVER ()) ELSE 0.0 END AS v
        |  FROM u32_$t),
        |v$t AS MATERIALIZED (
        |  SELECT dim, comp, v FROM q1_$t
        |  UNION ALL SELECT dim, comp, v FROM q2_$t
        |  UNION ALL SELECT dim, comp, v FROM q3_$t)""".stripMargin)
    }
    sb.append(s""",
      |wf AS MATERIALIZED (
      |  SELECT g.di AS dim, v.comp, sum(g.g * v.v) AS w
      |  FROM g JOIN v$iters v ON g.dj = v.dim
      |  GROUP BY g.di, v.comp),
      |lam AS (SELECT comp, sqrt(sum(w * w)) AS l FROM wf GROUP BY comp),
      |sgn AS (SELECT comp, CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
      |  FROM (SELECT comp, dim, v, row_number() OVER (
      |      PARTITION BY comp ORDER BY abs(v) DESC, dim) AS rn
      |    FROM v$iters) WHERE rn = 1)
      |SELECT v.comp, v.dim, round(v.v * sgn.s, 6) + 0.0 AS v,
      |  round(sqrt(lam.l), 4) + 0.0 AS sigma
      |FROM v$iters v JOIN sgn ON v.comp = sgn.comp
      |JOIN lam ON v.comp = lam.comp
      |ORDER BY v.comp, v.dim""".stripMargin)
    sb.toString
  }

  /** Confusable-language surface fixture for n9: per-lang ASCII
    * morphology suffix appended to EVERY word of the shared-vocabulary
    * text (replace each space with "sfx ", then close the last word) —
    * identical word stems across languages, discriminative only at the
    * character level. ONE fragment evaluated by `expr()` on the engine
    * side and spliced verbatim into the oracle (the UrlQueries fixture
    * discipline: the two sides cannot drift). Dialect-shared subset
    * only: replace / CASE / `||` — no lambdas (Spark `transform` vs
    * DuckDB `list_transform` differ). `||` kept at line ENDS per the
    * double-stripMargin trap.
    */
  private[packs] val langSurfaceSql: String =
    """replace(text, ' ',
      |  CASE lang WHEN 'de' THEN 'sch ' WHEN 'fr' THEN 'eux '
      |       WHEN 'es' THEN 'cion ' WHEN 'zh' THEN 'xua '
      |       ELSE 'ing ' END) ||
      |CASE lang WHEN 'de' THEN 'sch' WHEN 'fr' THEN 'eux'
      |     WHEN 'es' THEN 'cion' WHEN 'zh' THEN 'xua'
      |     ELSE 'ing' END""".stripMargin

  /** Shared OvR 2-step zero-init GD chain (mirrors LinearOps
    * .logisticGdOvr at iters=2, lr=0.1): unrolled per-class binary GD,
    * final margins in `mf` — consumed by the l8 argmax and the l10
    * normalized-sigmoid proba oracles.
    */
  private val ovrGd2Cte: String =
    """WITH pts AS (
      |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |lab AS (SELECT vec_id, CAST(label % 3 AS INT) AS y3 FROM embeddings),
      |classes AS (SELECT DISTINCT y3 AS cls FROM lab),
      |bl AS (
      |  SELECT l.vec_id, c.cls,
      |    CASE WHEN l.y3 = c.cls THEN 1.0 ELSE 0.0 END AS y
      |  FROM lab l CROSS JOIN classes c),
      |w1 AS (
      |  SELECT b.cls, p.dim, -0.1 * avg((0.5 - b.y) * p.v) AS w
      |  FROM pts p JOIN bl b ON p.vec_id = b.vec_id
      |  GROUP BY b.cls, p.dim),
      |m2 AS (
      |  SELECT w1.cls, p.vec_id, sum(p.v * w1.w) AS m
      |  FROM pts p JOIN w1 ON p.dim = w1.dim
      |  GROUP BY w1.cls, p.vec_id),
      |e2 AS (
      |  SELECT m2.cls, m2.vec_id, 1.0 / (1.0 + exp(-m2.m)) - b.y AS err
      |  FROM m2 JOIN bl b ON b.vec_id = m2.vec_id AND b.cls = m2.cls),
      |g2 AS (
      |  SELECT e2.cls, p.dim, avg(e2.err * p.v) AS g
      |  FROM pts p JOIN e2 ON p.vec_id = e2.vec_id
      |  GROUP BY e2.cls, p.dim),
      |w2 AS (
      |  SELECT w1.cls, w1.dim, w1.w - 0.1 * g2.g AS w
      |  FROM w1 JOIN g2 ON w1.cls = g2.cls AND w1.dim = g2.dim),
      |mf AS (
      |  SELECT w2.cls, p.vec_id, sum(p.v * w2.w) AS m
      |  FROM pts p JOIN w2 ON p.dim = w2.dim
      |  GROUP BY w2.cls, p.vec_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Mirrors Eval.classificationReport: one confusion CTE, per-class
    // margins, P/R rounded BEFORE f1 (the engine computes f1 from the
    // rounded columns). DuckDB sum() is HUGEINT -> cast BIGINT.
    "ml_eval_report" ->
      """WITH d AS (SELECT l_returnflag AS label,
        |    CASE WHEN l_quantity < 17 THEN 'A'
        |         WHEN l_quantity < 34 THEN 'N' ELSE 'R' END AS pred
        |  FROM lineitem),
        |cm AS (SELECT label, pred, count(*) AS n FROM d GROUP BY 1, 2),
        |bl AS (SELECT label AS cls, CAST(sum(n) AS BIGINT) AS support
        |       FROM cm GROUP BY 1),
        |bp AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS npred
        |       FROM cm GROUP BY 1),
        |tpos AS (SELECT label AS cls, CAST(n AS BIGINT) AS tp FROM cm
        |         WHERE label = pred),
        |base AS (SELECT coalesce(bl.cls, bp.cls) AS cls,
        |    coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
        |    coalesce(npred, 0) AS npred
        |  FROM bl FULL JOIN bp ON bl.cls = bp.cls
        |  LEFT JOIN tpos ON coalesce(bl.cls, bp.cls) = tpos.cls),
        |pr AS (SELECT cls, support, tp, npred,
        |    round(CASE WHEN npred > 0 THEN tp * 1.0 / npred ELSE 0.0 END, 6)
        |      AS "precision",
        |    round(CASE WHEN support > 0 THEN tp * 1.0 / support ELSE 0.0 END, 6)
        |      AS recall
        |  FROM base)
        |SELECT cls, support, tp, npred, "precision", recall,
        |  round(CASE WHEN "precision" + recall > 0
        |    THEN 2.0 * "precision" * recall / ("precision" + recall)
        |    ELSE 0.0 END, 6) AS f1
        |FROM pr
        |ORDER BY cls""".stripMargin,

    // Mirrors Eval.aucExact: quantized-score histogram, cumulative
    // count window over the BOUNDED distinct-score frame, average-rank
    // Mann-Whitney sum. All rank terms are integer-or-half values —
    // exact in double on both engines regardless of sum order.
    "ml_auc_exact" ->
      """WITH d AS (SELECT round(l_discount + l_tax / 10, 6) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |h AS (SELECT s, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        |      FROM d GROUP BY s),
        |r AS (SELECT s, n, npos,
        |    sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - n AS cum
        |  FROM h)
        |SELECT round((sum(npos * (cum + (n + 1.0) / 2.0))
        |    - CAST(sum(npos) AS DOUBLE) * (CAST(sum(npos) AS DOUBLE) + 1.0) / 2.0)
        |    / (CAST(sum(npos) AS DOUBLE) * CAST(sum(n - npos) AS DOUBLE)), 6)
        |    AS auc,
        |  CAST(sum(npos) AS BIGINT) AS npos,
        |  CAST(sum(n - npos) AS BIGINT) AS nneg
        |FROM r""".stripMargin,

    // The ml_auc_exact chain with PARTITION BY grp on histogram, window
    // and final reduction — per-group Mann-Whitney, same rank algebra.
    "ml_auc_by_group" ->
      """WITH d AS (SELECT l_linestatus AS grp,
        |    round(l_discount + l_tax / 10, 6) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |h AS (SELECT grp, s, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        |      FROM d GROUP BY grp, s),
        |r AS (SELECT grp, s, n, npos,
        |    sum(n) OVER (PARTITION BY grp ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS cum
        |  FROM h)
        |SELECT grp,
        |  round((sum(npos * (cum + (n + 1.0) / 2.0))
        |    - CAST(sum(npos) AS DOUBLE) * (CAST(sum(npos) AS DOUBLE) + 1.0) / 2.0)
        |    / (CAST(sum(npos) AS DOUBLE) * CAST(sum(n - npos) AS DOUBLE)), 6)
        |    AS auc,
        |  CAST(sum(npos) AS BIGINT) AS npos,
        |  CAST(sum(n - npos) AS BIGINT) AS nneg
        |FROM r GROUP BY grp ORDER BY grp""".stripMargin,

    // Same closed-form fit as l2_ols_predict, then the one-pass error
    // algebra; MAPE over a<>0 rows only (stated both sides), R² via
    // 1 - mse/var_pop with the zero-variance -> 0 convention.
    "ml_regression_report" ->
      """WITH fit AS (
        |  SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 6) AS slope,
        |    round(avg(l_extendedprice) -
        |      covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity), 6)
        |      AS intercept
        |  FROM lineitem),
        |d AS (
        |  SELECT l_extendedprice AS a,
        |    fit.intercept + fit.slope * l_quantity AS p
        |  FROM lineitem, fit)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(avg(abs(p - a)), 6) AS mae,
        |  round(sqrt(avg((p - a) * (p - a))), 6) AS rmse,
        |  CAST(sum(CASE WHEN a <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS mape_n,
        |  round(avg(CASE WHEN a <> 0 THEN abs((p - a) / a) END), 6)
        |    AS mape,
        |  round(CASE WHEN var_pop(a) > 0
        |    THEN 1.0 - avg((p - a) * (p - a)) / var_pop(a)
        |    ELSE 0.0 END, 6) AS r2
        |FROM d""".stripMargin,

    // po/pe rounded BEFORE kappa (the engine convention); marginal
    // products in double.
    "ml_cohens_kappa" ->
      """WITH d AS (SELECT l_returnflag AS a1,
        |    CASE WHEN l_quantity < 17 THEN 'A'
        |         WHEN l_quantity < 34 THEN 'N' ELSE 'R' END AS a2
        |  FROM lineitem),
        |cm AS (SELECT a1, a2, count(*) AS n FROM d GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cm),
        |dg AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS d FROM cm
        |       WHERE a1 = a2),
        |rm AS (SELECT a1 AS cls, CAST(sum(n) AS BIGINT) AS r FROM cm
        |       GROUP BY 1),
        |cmg AS (SELECT a2 AS cls, CAST(sum(n) AS BIGINT) AS c FROM cm
        |        GROUP BY 1),
        |rc AS (SELECT sum(CAST(coalesce(r, 0) AS DOUBLE) *
        |         CAST(coalesce(c, 0) AS DOUBLE)) AS rc
        |       FROM rm FULL JOIN cmg ON rm.cls = cmg.cls),
        |pp AS (SELECT tot.n AS n,
        |    round(CAST(dg.d AS DOUBLE) / tot.n, 6) AS po,
        |    round(rc.rc / (CAST(tot.n AS DOUBLE) * tot.n), 6) AS pe
        |  FROM tot, dg, rc)
        |SELECT n, po, pe,
        |  round(CASE WHEN pe = 1.0 THEN
        |      CASE WHEN po = 1.0 THEN 1.0 ELSE 0.0 END
        |    ELSE (po - pe) / (1.0 - pe) END, 6) AS kappa
        |FROM pp""".stripMargin,

    // Same per-query reductions; IDCG via a bounded list fold. Queries
    // with no relevant docs report 0 across the board (stated both
    // sides).
    "ml_ranking_metrics" ->
      """WITH cand AS (
        |  SELECT doc_id % 10 AS q, doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS rel,
        |    row_number() OVER (PARTITION BY doc_id % 10 ORDER BY doc_id)
        |      AS rank
        |  FROM documents WHERE doc_id < 200),
        |g AS (
        |  SELECT q, CAST(sum(rel) AS BIGINT) AS n_rel,
        |    CAST(sum(CASE WHEN rel = 1 AND rank <= 5 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS relk,
        |    min(CASE WHEN rel = 1 THEN rank END) AS frst,
        |    sum(CASE WHEN rel = 1 AND rank <= 5
        |      THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END) AS dcg
        |  FROM cand GROUP BY q),
        |i AS (
        |  SELECT q, n_rel, relk, frst, dcg,
        |    CASE WHEN n_rel > 0 THEN coalesce(list_sum(list_transform(
        |      range(1, CAST(least(5, n_rel) AS BIGINT) + 1),
        |      x -> 1.0 / log2(x + 1.0))), 0.0) ELSE 0.0 END AS idcg
        |  FROM g)
        |SELECT q, n_rel,
        |  round(CASE WHEN n_rel > 0 THEN CAST(relk AS DOUBLE) / n_rel
        |    ELSE 0.0 END, 6) AS recall_k,
        |  round(coalesce(1.0 / frst, 0.0), 6) AS mrr,
        |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)
        |    AS ndcg_k
        |FROM i ORDER BY q""".stripMargin,

    // The token-drift algebra over fixed-width value bins (the
    // reference defines [0, 110000) x 20; values clamp to edge bins).
    "drift_numeric_psi" ->
      """WITH ha AS (SELECT least(19, greatest(0,
        |      CAST(floor((l_extendedprice - 0.0) / 110000.0 * 20)
        |        AS BIGINT))) AS bin, count(*) AS ca
        |  FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |hb AS (SELECT least(19, greatest(0,
        |      CAST(floor((l_extendedprice - 0.0) / 110000.0 * 20)
        |        AS BIGINT))) AS bin, count(*) AS cb
        |  FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(ha.bin, hb.bin) AS bin,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM ha FULL JOIN hb ON ha.bin = hb.bin),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        |  FROM j),
        |pq AS (SELECT v, na, nb,
        |    (ca + 1.0) / (na + v) AS p, (cb + 1.0) / (nb + v) AS q,
        |    ((ca + 1.0) / (na + v) + (cb + 1.0) / (nb + v)) / 2.0 AS m
        |  FROM j, t)
        |SELECT max(v) AS n_terms, max(na) AS n_a, max(nb) AS n_b,
        |  round(sum((p - q) * ln(p / q)), 6) AS psi,
        |  round(sum(p * ln(p / q)), 6) AS kl_pq,
        |  round(sum(p * ln(p / m) / 2.0 + q * ln(q / m) / 2.0), 6) AS js
        |FROM pq""".stripMargin,

    "ml_brier_logloss" ->
      """WITH d AS (SELECT
        |    least(1.0 - 1e-15, greatest(1e-15, l_discount * 10)) AS p,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |  FROM lineitem)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(avg((p - y) * (p - y)), 6) AS brier,
        |  round(-avg(y * ln(p) + (1.0 - y) * ln(1.0 - p)), 6) AS log_loss
        |FROM d""".stripMargin,

    "ml_calibration_bins" ->
      """WITH d AS (SELECT l_discount * 10 AS p,
        |    CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        |  FROM lineitem)
        |SELECT greatest(0, least(9, CAST(floor(p * 10) AS BIGINT))) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(avg(p), 6) AS mean_score,
        |  round(avg(y), 6) AS frac_pos
        |FROM d GROUP BY 1 ORDER BY bin""".stripMargin,

    "c4_svd_power" -> powerIterOracle(8),
    "c4_svd_power2" -> powerComponentsOracle(2, 8),
    "c7_orth_iter2" -> orthIter2Oracle(8),
    "c8_orth_iter3" -> orthIter3Oracle(8),
    "c5_svd_project" -> powerProjectOracle(8),

    // Mirrors cvRidgeUnivariate exactly: same md5 fold assignment, same
    // complement-of-fold sufficient statistics, same closed-form ridge
    // arithmetic (+,-,*,/ only — no pow, no library fit).
    "cv_grid_search" ->
      """WITH r AS (
        |  SELECT (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |             CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 3) AS fold,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
        |  FROM lineitem),
        |fs AS (
        |  SELECT fold, CAST(count(*) AS DOUBLE) AS fn, sum(x) AS fsx,
        |    sum(y) AS fsy, sum(x*x) AS fsxx, sum(x*y) AS fsxy
        |  FROM r GROUP BY fold),
        |tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS tn, sum(x) AS tsx, sum(y) AS tsy,
        |    sum(x*x) AS tsxx, sum(x*y) AS tsxy
        |  FROM r),
        |grid AS (SELECT grid_idx, CAST(lambda AS DOUBLE) AS lambda
        |  FROM (VALUES (0, 0.0), (1, 100.0), (2, 10000.0))
        |  g(grid_idx, lambda)),
        |tr AS (
        |  SELECT fold, tn - fn AS n, tsx - fsx AS sx, tsy - fsy AS sy,
        |    tsxx - fsxx AS sxx, tsxy - fsxy AS sxy
        |  FROM fs CROSS JOIN tot),
        |m0 AS (
        |  SELECT fold, grid_idx, lambda,
        |    CASE WHEN sxx - sx * sx / n + lambda <> 0
        |      THEN (sxy - sx * sy / n) / (sxx - sx * sx / n + lambda)
        |      ELSE 0.0 END AS b1,
        |    n, sx, sy
        |  FROM tr CROSS JOIN grid),
        |m AS (
        |  SELECT fold, grid_idx, lambda,
        |    (sy / n) - b1 * sx / n AS b0, b1
        |  FROM m0)
        |SELECT m.grid_idx, m.lambda,
        |  round(avg((r.y - (m.b0 + m.b1 * r.x)) * (r.y - (m.b0 + m.b1 * r.x))), 4)
        |    AS avg_mse
        |FROM r JOIN m ON r.fold = m.fold
        |GROUP BY m.grid_idx, m.lambda
        |ORDER BY m.grid_idx""".stripMargin,

    // cv_grid_search's arithmetic with the feature axis added: the
    // stacked (feature, x) rows become a UNION ALL, every CTE carries
    // `feature` through, and the final join matches on (feature, fold).
    "cv_grid_search_multi" ->
      """WITH r AS (
        |  SELECT (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |             CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 3) AS fold,
        |    'l_quantity' AS feature,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
        |  FROM lineitem
        |  UNION ALL
        |  SELECT (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
        |             CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT % 3) AS fold,
        |    'l_discount' AS feature,
        |    CAST(l_discount AS DOUBLE) * 100.0 AS x,
        |    CAST(l_extendedprice AS DOUBLE) / 1000.0 AS y
        |  FROM lineitem),
        |fs AS (
        |  SELECT feature, fold, CAST(count(*) AS DOUBLE) AS fn, sum(x) AS fsx,
        |    sum(y) AS fsy, sum(x*x) AS fsxx, sum(x*y) AS fsxy
        |  FROM r GROUP BY feature, fold),
        |tot AS (
        |  SELECT feature, CAST(count(*) AS DOUBLE) AS tn, sum(x) AS tsx,
        |    sum(y) AS tsy, sum(x*x) AS tsxx, sum(x*y) AS tsxy
        |  FROM r GROUP BY feature),
        |grid AS (SELECT grid_idx, CAST(lambda AS DOUBLE) AS lambda
        |  FROM (VALUES (0, 0.0), (1, 100.0), (2, 10000.0))
        |  g(grid_idx, lambda)),
        |tr AS (
        |  SELECT fs.feature, fold, tn - fn AS n, tsx - fsx AS sx,
        |    tsy - fsy AS sy, tsxx - fsxx AS sxx, tsxy - fsxy AS sxy
        |  FROM fs JOIN tot ON fs.feature = tot.feature),
        |m0 AS (
        |  SELECT feature, fold, grid_idx, lambda,
        |    CASE WHEN sxx - sx * sx / n + lambda <> 0
        |      THEN (sxy - sx * sy / n) / (sxx - sx * sx / n + lambda)
        |      ELSE 0.0 END AS b1,
        |    n, sx, sy
        |  FROM tr CROSS JOIN grid),
        |m AS (
        |  SELECT feature, fold, grid_idx, lambda,
        |    (sy / n) - b1 * sx / n AS b0, b1
        |  FROM m0)
        |SELECT m.feature, m.grid_idx, m.lambda,
        |  round(avg((r.y - (m.b0 + m.b1 * r.x)) * (r.y - (m.b0 + m.b1 * r.x))), 4)
        |    AS avg_mse
        |FROM r JOIN m ON r.feature = m.feature AND r.fold = m.fold
        |GROUP BY m.feature, m.grid_idx, m.lambda
        |ORDER BY m.feature, m.grid_idx""".stripMargin,

    // Full grid unroll: per-fold top-cap vocab (complement counts,
    // (count DESC, term) rank), α-smoothed NB on training counts over
    // the realized vocab, priors on training doc shares, argmax with
    // prior-only fallback for all-OOV docs — the engine plan replayed
    // CTE for CTE. alpha VALUES are cast to DOUBLE (DuckDB would
    // otherwise type them DECIMAL and drift the smoothing arithmetic).
    "cv_grid_search_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INT) AS fold,
        |    lang AS label, text FROM documents),
        |toks AS (SELECT id, fold, label,
        |    unnest(string_split(text, ' ')) AS term FROM base),
        |folds AS (SELECT * FROM (VALUES (0), (1)) f(fold)),
        |classes AS (SELECT DISTINCT label FROM base),
        |caps AS (SELECT * FROM (VALUES (8), (32)) c(vocab_cap)),
        |alphas AS (SELECT CAST(a AS DOUBLE) AS alpha
        |           FROM (VALUES (0.5), (1.0)) x(a)),
        |tc AS (SELECT term, count(*) AS ct FROM toks GROUP BY term),
        |ftc AS (SELECT fold, term, count(*) AS cft FROM toks
        |        GROUP BY fold, term),
        |ranked AS (
        |  SELECT f.fold, t.term,
        |    row_number() OVER (PARTITION BY f.fold
        |      ORDER BY (t.ct - coalesce(x.cft, 0)) DESC, t.term) AS rk
        |  FROM folds f CROSS JOIN tc t
        |  LEFT JOIN ftc x ON x.fold = f.fold AND x.term = t.term
        |  WHERE t.ct - coalesce(x.cft, 0) > 0),
        |vocab AS (SELECT r.fold, c.vocab_cap, r.term
        |  FROM ranked r JOIN caps c ON r.rk <= c.vocab_cap),
        |vsz AS (SELECT fold, vocab_cap, count(*) AS vsz FROM vocab
        |        GROUP BY 1, 2),
        |ltc AS (SELECT label AS cls, term, count(*) AS clt FROM toks
        |        GROUP BY 1, 2),
        |fltc AS (SELECT fold, label AS cls, term, count(*) AS cflt
        |         FROM toks GROUP BY 1, 2, 3),
        |vlc AS (
        |  SELECT v.fold, v.vocab_cap, cl.label AS cls, v.term,
        |    CAST(coalesce(l.clt, 0) - coalesce(fl.cflt, 0) AS DOUBLE) AS tlt
        |  FROM vocab v CROSS JOIN classes cl
        |  LEFT JOIN ltc l ON l.cls = cl.label AND l.term = v.term
        |  LEFT JOIN fltc fl ON fl.fold = v.fold AND fl.cls = cl.label
        |    AND fl.term = v.term),
        |ctot AS (SELECT fold, vocab_cap, cls, sum(tlt) AS ctot FROM vlc
        |         GROUP BY 1, 2, 3),
        |lp AS (
        |  SELECT v.fold, v.vocab_cap, a.alpha, v.cls, v.term,
        |    ln((v.tlt + a.alpha) / (c.ctot + a.alpha * z.vsz)) AS lp
        |  FROM vlc v
        |  JOIN ctot c ON c.fold = v.fold AND c.vocab_cap = v.vocab_cap
        |    AND c.cls = v.cls
        |  JOIN vsz z ON z.fold = v.fold AND z.vocab_cap = v.vocab_cap
        |  CROSS JOIN alphas a),
        |ndl AS (SELECT label, count(*) AS ndl FROM base GROUP BY label),
        |ndfl AS (SELECT fold, label, count(*) AS ndfl FROM base
        |         GROUP BY 1, 2),
        |ndf AS (SELECT fold, count(*) AS ndf FROM base GROUP BY fold),
        |nd AS (SELECT count(*) AS nd FROM base),
        |priors AS (
        |  SELECT f.fold, cl.label AS cls,
        |    CASE WHEN l.ndl - coalesce(x.ndfl, 0) > 0
        |      THEN ln(CAST(l.ndl - coalesce(x.ndfl, 0) AS DOUBLE) /
        |              ((SELECT nd FROM nd) - d.ndf))
        |      ELSE -1e9 END AS prior
        |  FROM folds f CROSS JOIN classes cl
        |  JOIN ndl l ON l.label = cl.label
        |  LEFT JOIN ndfl x ON x.fold = f.fold AND x.label = cl.label
        |  JOIN ndf d ON d.fold = f.fold),
        |tf AS (SELECT fold, id, term, count(*) AS tf FROM toks
        |       GROUP BY 1, 2, 3),
        |ds AS (
        |  SELECT t.fold, p.vocab_cap, p.alpha, t.id, p.cls,
        |    sum(t.tf * p.lp) AS ll
        |  FROM tf t JOIN lp p ON p.fold = t.fold AND p.term = t.term
        |  GROUP BY 1, 2, 3, 4, 5),
        |univ AS (
        |  SELECT b.fold, b.id, b.label AS actual, g.vocab_cap, g.alpha,
        |    cl.label AS cls
        |  FROM base b
        |  CROSS JOIN (SELECT * FROM caps CROSS JOIN alphas) g
        |  CROSS JOIN classes cl),
        |scored AS (
        |  SELECT u.vocab_cap, u.alpha, u.id, u.actual, u.cls,
        |    coalesce(d.ll, 0.0) + p.prior AS score
        |  FROM univ u
        |  LEFT JOIN ds d ON d.fold = u.fold AND d.vocab_cap = u.vocab_cap
        |    AND d.alpha = u.alpha AND d.id = u.id AND d.cls = u.cls
        |  JOIN priors p ON p.fold = u.fold AND p.cls = u.cls),
        |preds AS (
        |  SELECT *, row_number() OVER (PARTITION BY vocab_cap, alpha, id
        |    ORDER BY score DESC, cls) AS rn FROM scored),
        |acc AS (
        |  SELECT vocab_cap, alpha,
        |    round(avg(CASE WHEN cls = actual THEN 1 ELSE 0 END), 4)
        |      AS cv_accuracy
        |  FROM preds WHERE rn = 1 GROUP BY 1, 2)
        |SELECT vocab_cap, alpha, cv_accuracy,
        |  CAST(CASE WHEN row_number() OVER (ORDER BY cv_accuracy DESC,
        |      vocab_cap, alpha) = 1 THEN 1 ELSE 0 END AS INT) AS chosen
        |FROM acc ORDER BY vocab_cap, alpha""".stripMargin,

    "n1_multinomial_nb_fit" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toks GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM toks),
        |vocab AS (SELECT DISTINCT term FROM toks),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS class_total
        |           FROM counts GROUP BY lang)
        |SELECT c.lang, vo.term, CAST(coalesce(k.cnt, 0) AS BIGINT) AS cnt,
        |  round(ln((coalesce(k.cnt, 0) + 1.0) /
        |           (t.class_total + 1.0 * (SELECT v FROM vs))), 6) AS log_prob
        |FROM classes c
        |CROSS JOIN vocab vo
        |LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |JOIN totals t ON t.lang = c.lang
        |ORDER BY 1, 2""".stripMargin,

    "n3_nb_predict_lang" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |langs AS (SELECT doc_id, lang FROM documents),
        |toksl AS (SELECT t.doc_id, l.lang, t.term
        |          FROM toks t JOIN langs l ON t.doc_id = l.doc_id),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM langs),
        |vocab AS (SELECT DISTINCT term FROM toksl),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct FROM counts GROUP BY lang),
        |lp AS (
        |  SELECT c.lang, vo.term,
        |    ln((coalesce(k.cnt, 0) + 1.0) / (t.ct + 1.0 * (SELECT v FROM vs))) AS lpv
        |  FROM classes c CROSS JOIN vocab vo
        |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |  JOIN totals t ON t.lang = c.lang),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |priors AS (SELECT lang, ln(count(*) * 1.0 / (SELECT nd FROM n)) AS prior
        |           FROM langs GROUP BY lang),
        |scores AS (
        |  SELECT tf.doc_id, lp.lang, sum(tf.tf * lp.lpv) AS ll
        |  FROM tf JOIN lp ON tf.term = lp.term
        |  GROUP BY tf.doc_id, lp.lang),
        |ranked AS (
        |  SELECT s.doc_id, s.lang,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.ll + p.prior DESC, s.lang) AS rn
        |  FROM scores s JOIN priors p ON s.lang = p.lang)
        |SELECT r.doc_id, r.lang AS pred, l.lang AS actual,
        |  CASE WHEN r.lang = l.lang THEN 1 ELSE 0 END AS correct
        |FROM ranked r JOIN langs l ON r.doc_id = l.doc_id
        |WHERE r.rn = 1
        |ORDER BY 1""".stripMargin,

    "n5_nb_predict_proba" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |langs AS (SELECT doc_id, lang FROM documents),
        |toksl AS (SELECT t.doc_id, l.lang, t.term
        |          FROM toks t JOIN langs l ON t.doc_id = l.doc_id),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM langs),
        |vocab AS (SELECT DISTINCT term FROM toksl),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct FROM counts GROUP BY lang),
        |lp AS (
        |  SELECT c.lang, vo.term,
        |    ln((coalesce(k.cnt, 0) + 1.0) / (t.ct + 1.0 * (SELECT v FROM vs))) AS lpv
        |  FROM classes c CROSS JOIN vocab vo
        |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |  JOIN totals t ON t.lang = c.lang),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |priors AS (SELECT lang, ln(count(*) * 1.0 / (SELECT nd FROM n)) AS prior
        |           FROM langs GROUP BY lang),
        |scores AS (
        |  SELECT tf.doc_id, lp.lang, sum(tf.tf * lp.lpv) AS ll
        |  FROM tf JOIN lp ON tf.term = lp.term
        |  GROUP BY tf.doc_id, lp.lang),
        |full_scores AS (
        |  SELECT s.doc_id, s.lang, s.ll + p.prior AS score
        |  FROM scores s JOIN priors p ON s.lang = p.lang),
        |es AS (
        |  SELECT doc_id, lang,
        |    exp(score - max(score) OVER (PARTITION BY doc_id)) AS e
        |  FROM full_scores)
        |SELECT doc_id, lang,
        |  round(e / sum(e) OVER (PARTITION BY doc_id), 4) + 0.0 AS proba
        |FROM es
        |ORDER BY doc_id, lang""".stripMargin,

    "n6_nb_accuracy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |langs AS (SELECT doc_id, lang FROM documents),
        |toksl AS (SELECT t.doc_id, l.lang, t.term
        |          FROM toks t JOIN langs l ON t.doc_id = l.doc_id),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM langs),
        |vocab AS (SELECT DISTINCT term FROM toksl),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct FROM counts GROUP BY lang),
        |lp AS (
        |  SELECT c.lang, vo.term,
        |    ln((coalesce(k.cnt, 0) + 1.0) / (t.ct + 1.0 * (SELECT v FROM vs))) AS lpv
        |  FROM classes c CROSS JOIN vocab vo
        |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |  JOIN totals t ON t.lang = c.lang),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |priors AS (SELECT lang, ln(count(*) * 1.0 / (SELECT nd FROM n)) AS prior
        |           FROM langs GROUP BY lang),
        |scores AS (
        |  SELECT tf.doc_id, lp.lang, sum(tf.tf * lp.lpv) AS ll
        |  FROM tf JOIN lp ON tf.term = lp.term
        |  GROUP BY tf.doc_id, lp.lang),
        |ranked AS (
        |  SELECT s.doc_id, s.lang,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.ll + p.prior DESC, s.lang) AS rn
        |  FROM scores s JOIN priors p ON s.lang = p.lang),
        |preds AS (
        |  SELECT r.doc_id, r.lang AS pred, l.lang AS actual
        |  FROM ranked r JOIN langs l ON r.doc_id = l.doc_id
        |  WHERE r.rn = 1),
        |per AS (
        |  SELECT actual AS class, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM preds GROUP BY actual),
        |overall AS (
        |  SELECT 'ALL' AS class, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM preds),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM overall)
        |SELECT class, n_docs, n_correct,
        |  round(n_correct * 1.0 / n_docs, 4) + 0.0 AS accuracy
        |FROM u
        |ORDER BY class""".stripMargin,

    // n6's NB chain over char TRIGRAMS of the morphology-suffixed
    // surface fixture (spliced verbatim — see langSurfaceSql).
    "n9_nb_lang_chartrigram" ->
      (s"""WITH sur AS (
          |  SELECT doc_id, lang, $langSurfaceSql AS surface
          |  FROM documents),
          |""".stripMargin +
        """tri AS (
          |  SELECT doc_id, substr(surface, CAST(s AS INT), 3) AS term
          |  FROM (SELECT doc_id, surface,
          |          unnest(range(1, greatest(length(surface) - 1, 1))) AS s
          |        FROM sur) tx),
          |langs AS (SELECT doc_id, lang FROM documents),
          |toksl AS (SELECT t.doc_id, l.lang, t.term
          |          FROM tri t JOIN langs l ON t.doc_id = l.doc_id),
          |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl
          |           GROUP BY lang, term),
          |classes AS (SELECT DISTINCT lang FROM langs),
          |vocab AS (SELECT DISTINCT term FROM toksl),
          |vs AS (SELECT count(*) AS v FROM vocab),
          |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct
          |           FROM counts GROUP BY lang),
          |lp AS (
          |  SELECT c.lang, vo.term,
          |    ln((coalesce(k.cnt, 0) + 1.0) / (t.ct + 1.0 * (SELECT v FROM vs)))
          |      AS lpv
          |  FROM classes c CROSS JOIN vocab vo
          |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
          |  JOIN totals t ON t.lang = c.lang),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tri
          |       GROUP BY doc_id, term),
          |n AS (SELECT count(*) AS nd FROM documents),
          |priors AS (SELECT lang, ln(count(*) * 1.0 / (SELECT nd FROM n))
          |             AS prior
          |           FROM langs GROUP BY lang),
          |scores AS (
          |  SELECT tf.doc_id, lp.lang, sum(tf.tf * lp.lpv) AS ll
          |  FROM tf JOIN lp ON tf.term = lp.term
          |  GROUP BY tf.doc_id, lp.lang),
          |ranked AS (
          |  SELECT s.doc_id, s.lang,
          |    row_number() OVER (PARTITION BY s.doc_id
          |                       ORDER BY s.ll + p.prior DESC, s.lang) AS rn
          |  FROM scores s JOIN priors p ON s.lang = p.lang),
          |preds AS (
          |  SELECT r.doc_id, r.lang AS pred, l.lang AS actual
          |  FROM ranked r JOIN langs l ON r.doc_id = l.doc_id
          |  WHERE r.rn = 1),
          |per AS (
          |  SELECT actual AS class, count(*) AS n_docs,
          |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_correct
          |  FROM preds GROUP BY actual),
          |overall AS (
          |  SELECT 'ALL' AS class, count(*) AS n_docs,
          |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_correct
          |  FROM preds),
          |u AS (SELECT * FROM per UNION ALL SELECT * FROM overall)
          |SELECT class, n_docs, n_correct,
          |  round(n_correct * 1.0 / n_docs, 4) + 0.0 AS accuracy
          |FROM u
          |ORDER BY class""".stripMargin),

    "n2_gaussian_nb_fit" ->
      """SELECT label, CAST(dim AS INT) AS dim, round(avg(v), 6) AS theta,
        |  round(var_pop(v), 6) AS sigma2, count(*) AS n
        |FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |        CAST(unnest(embedding) AS DOUBLE) AS v
        |      FROM embeddings) t
        |WHERE dim <= 4
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    "n4_gaussian_nb_predict" ->
      """WITH lf AS (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |fit AS (
        |  SELECT label, dim, round(avg(v), 6) AS theta,
        |    round(var_pop(v), 6) AS sigma2, count(*) AS n
        |  FROM lf WHERE dim <= 4 GROUP BY label, dim),
        |priors AS (
        |  SELECT label, ln(n * 1.0 / (SELECT sum(n) FROM fit WHERE dim = 1))
        |    AS logprior
        |  FROM fit WHERE dim = 1),
        |pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |scores AS (
        |  SELECT p.vec_id, f.label,
        |    sum(-0.5 * ln(2.0 * pi() * f.sigma2)
        |        - (p.v - f.theta) * (p.v - f.theta) / (2.0 * f.sigma2))
        |      + any_value(pr.logprior) AS score
        |  FROM pts p
        |  JOIN fit f ON p.dim = f.dim
        |  JOIN priors pr ON f.label = pr.label
        |  WHERE p.dim <= 4
        |  GROUP BY p.vec_id, f.label),
        |ranked AS (
        |  SELECT vec_id, label, score,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, label)
        |      AS rn
        |  FROM scores)
        |SELECT vec_id, CAST(label AS INT) AS pred,
        |  round(score, 2) + 0.0 AS score
        |FROM ranked WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    "n8_gaussian_nb_accuracy" ->
      """WITH lf AS (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |fit AS (
        |  SELECT label, dim, round(avg(v), 6) AS theta,
        |    round(var_pop(v), 6) AS sigma2, count(*) AS n
        |  FROM lf WHERE dim <= 4 GROUP BY label, dim),
        |priors AS (
        |  SELECT label, ln(n * 1.0 / (SELECT sum(n) FROM fit WHERE dim = 1))
        |    AS logprior
        |  FROM fit WHERE dim = 1),
        |pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |scores AS (
        |  SELECT p.vec_id, f.label,
        |    sum(-0.5 * ln(2.0 * pi() * f.sigma2)
        |        - (p.v - f.theta) * (p.v - f.theta) / (2.0 * f.sigma2))
        |      + any_value(pr.logprior) AS score
        |  FROM pts p
        |  JOIN fit f ON p.dim = f.dim
        |  JOIN priors pr ON f.label = pr.label
        |  WHERE p.dim <= 4
        |  GROUP BY p.vec_id, f.label),
        |ranked AS (
        |  SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, label)
        |      AS rn
        |  FROM scores),
        |preds AS (
        |  SELECT r.vec_id, r.label AS pred, e.label AS actual
        |  FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
        |  WHERE r.rn = 1),
        |per AS (
        |  SELECT CAST(actual AS VARCHAR) AS class, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM preds GROUP BY 1),
        |overall AS (
        |  SELECT 'ALL' AS class, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM preds),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM overall)
        |SELECT class, n_docs, n_correct,
        |  round(n_correct * 1.0 / n_docs, 4) + 0.0 AS accuracy
        |FROM u
        |ORDER BY class""".stripMargin,

    "n7_gaussian_nb_proba" ->
      """WITH lf AS (
        |  SELECT label, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |fit AS (
        |  SELECT label, dim, round(avg(v), 6) AS theta,
        |    round(var_pop(v), 6) AS sigma2, count(*) AS n
        |  FROM lf WHERE dim <= 4 GROUP BY label, dim),
        |priors AS (
        |  SELECT label, ln(n * 1.0 / (SELECT sum(n) FROM fit WHERE dim = 1))
        |    AS logprior
        |  FROM fit WHERE dim = 1),
        |pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |scores AS (
        |  SELECT p.vec_id, f.label,
        |    sum(-0.5 * ln(2.0 * pi() * f.sigma2)
        |        - (p.v - f.theta) * (p.v - f.theta) / (2.0 * f.sigma2))
        |      + any_value(pr.logprior) AS score
        |  FROM pts p
        |  JOIN fit f ON p.dim = f.dim
        |  JOIN priors pr ON f.label = pr.label
        |  WHERE p.dim <= 4
        |  GROUP BY p.vec_id, f.label),
        |es AS (
        |  SELECT vec_id, label,
        |    exp(score - max(score) OVER (PARTITION BY vec_id)) AS e
        |  FROM scores WHERE vec_id < 100)
        |SELECT vec_id, CAST(label AS INT) AS label,
        |  round(e / sum(e) OVER (PARTITION BY vec_id), 4) + 0.0 AS proba
        |FROM es
        |ORDER BY vec_id, label""".stripMargin,

    "l5_ols_bivariate" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(l_quantity) AS s1, sum(l_discount) AS s2,
        |    sum(l_extendedprice) AS sy,
        |    sum(l_quantity * l_quantity) AS s11,
        |    sum(l_quantity * l_discount) AS s12,
        |    sum(l_discount * l_discount) AS s22,
        |    sum(l_quantity * l_extendedprice) AS s1y,
        |    sum(l_discount * l_extendedprice) AS s2y
        |  FROM lineitem),
        |d AS (
        |  SELECT *, n * (s11 * s22 - s12 * s12)
        |    - s1 * (s1 * s22 - s12 * s2)
        |    + s2 * (s1 * s12 - s11 * s2) AS det
        |  FROM m)
        |SELECT
        |  round((sy * (s11 * s22 - s12 * s12)
        |    - s1 * (s1y * s22 - s12 * s2y)
        |    + s2 * (s1y * s12 - s11 * s2y)) / det, 6) AS b0,
        |  round((n * (s1y * s22 - s12 * s2y)
        |    - sy * (s1 * s22 - s12 * s2)
        |    + s2 * (s1 * s2y - s1y * s2)) / det, 6) AS b1,
        |  round((n * (s11 * s2y - s1y * s12)
        |    - s1 * (s1 * s2y - s1y * s2)
        |    + sy * (s1 * s12 - s11 * s2)) / det, 6) AS b2
        |FROM d""".stripMargin,

    "p2_feature_union" ->
      """SELECT l_orderkey, l_linenumber,
        |  3 AS dim,
        |  (CASE WHEN l_quantity <> 0 THEN 1 ELSE 0 END
        |   + CASE WHEN l_discount <> 0 THEN 1 ELSE 0 END
        |   + CASE WHEN l_tax <> 0 THEN 1 ELSE 0 END) AS nnz,
        |  round(sqrt(l_quantity * l_quantity + l_discount * l_discount
        |             + l_tax * l_tax), 4) + 0.0 AS l2
        |FROM lineitem
        |WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // Weighted blocks recomputed from raw columns; the 2.0/0.5 scale
    // factors are powers of two (FP-exact), the 0.0 weight zeroes the
    // tax block out of nnz and l2 while dim stays 3.
    "p7_feature_union_weighted" ->
      """SELECT l_orderkey, l_linenumber,
        |  3 AS dim,
        |  (CASE WHEN 2.0 * l_quantity <> 0 THEN 1 ELSE 0 END
        |   + CASE WHEN 0.5 * l_discount <> 0 THEN 1 ELSE 0 END) AS nnz,
        |  round(sqrt((2.0 * l_quantity) * (2.0 * l_quantity)
        |             + (0.5 * l_discount) * (0.5 * l_discount)), 4) + 0.0
        |    AS l2
        |FROM lineitem
        |WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // The composed SQLTransformer pipeline replayed as one expression.
    "p3_make_pipeline" ->
      """SELECT doc_id, lang,
        |  round(ln(n_chars * 2 + 1.0), 6) + 0.0 AS log_n2
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Join semantics recomputed; broadcast_used is a plan-property
    // constant (true unless the engine stops broadcasting the dim).
    "p5_broadcast_plan" ->
      """SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  true AS broadcast_used
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin,

    "l6_ols_trivariate" -> {
      val betas = (0 until 4).map { j =>
        s"round((${LinearOps.olsBetaSql(3, j)}) / " +
          s"nullif((${LinearOps.detSql(LinearOps.olsMatrix(3))}), 0), 4) " +
          s"+ 0.0 AS b$j"
      }.mkString(",\n    ")
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(l_quantity) AS s1, sum(l_discount) AS s2,
         |    sum(l_tax) AS s3, sum(l_extendedprice) AS sy,
         |    sum(l_quantity * l_quantity) AS s11,
         |    sum(l_quantity * l_discount) AS s12,
         |    sum(l_quantity * l_tax) AS s13,
         |    sum(l_discount * l_discount) AS s22,
         |    sum(l_discount * l_tax) AS s23,
         |    sum(l_tax * l_tax) AS s33,
         |    sum(l_quantity * l_extendedprice) AS s1y,
         |    sum(l_discount * l_extendedprice) AS s2y,
         |    sum(l_tax * l_extendedprice) AS s3y
         |  FROM lineitem)
         |SELECT
         |    $betas
         |FROM m""".stripMargin
    },

    "l1_block_averaged_ols" ->
      """WITH blocked AS (
        |  SELECT l_quantity, l_extendedprice,
        |    CAST(floor((row_number() OVER (ORDER BY l_orderkey, l_linenumber,
        |           l_quantity, l_extendedprice) - 1)
        |         / 10000.0) AS BIGINT) AS block_id
        |  FROM lineitem),
        |per_block AS (
        |  SELECT block_id,
        |    covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) AS slope,
        |    avg(l_extendedprice) -
        |      covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity)
        |      AS icept
        |  FROM blocked GROUP BY block_id)
        |SELECT round(avg(slope), 6) AS slope_avg,
        |  round(avg(icept), 6) AS intercept_avg,
        |  count(*) AS n_blocks
        |FROM per_block""".stripMargin,

    "l3_ols_fit" ->
      """SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 6) AS slope,
        |  round(avg(l_extendedprice) -
        |    covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity), 6)
        |    AS intercept
        |FROM lineitem""".stripMargin,

    "l2_ols_predict" ->
      """WITH fit AS (
        |  SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 6) AS slope,
        |    round(avg(l_extendedprice) -
        |      covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity), 6)
        |      AS intercept
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity,
        |  round(fit.intercept + fit.slope * l_quantity, 4) AS prediction
        |FROM lineitem, fit
        |WHERE l_orderkey < 20
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // The banded task is separable, so a correct fit+predict must map
    // every row to its own y — the oracle computes the confusion matrix
    // of that perfect outcome directly from the band rule.
    "ml_logreg_predict" ->
      """WITH banded AS (
        |  SELECT CAST(CASE WHEN m > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y
        |  FROM (SELECT CAST(embedding[1] AS DOUBLE) +
        |               CAST(embedding[2] AS DOUBLE) AS m
        |        FROM embeddings)
        |  WHERE abs(m) > 0.05)
        |SELECT y, y AS prediction, count(*) AS n
        |FROM banded GROUP BY y ORDER BY y, prediction""".stripMargin,

    // Step 1 closed form: w=0 ⇒ margins 0 ⇒ σ=0.5 exactly, so
    // w1 = -lr·avg((0.5−y)·x); step 2 unrolled in full.
    "l4_logreg_gd" ->
      """WITH pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |lab AS (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
        |w1 AS (
        |  SELECT dim, -0.1 * avg((0.5 - l.y) * p.v) AS w
        |  FROM pts p JOIN lab l ON p.vec_id = l.vec_id
        |  GROUP BY dim),
        |m2 AS (
        |  SELECT p.vec_id, sum(p.v * w1.w) AS m
        |  FROM pts p JOIN w1 ON p.dim = w1.dim
        |  GROUP BY p.vec_id),
        |e2 AS (
        |  SELECT m2.vec_id, 1.0 / (1.0 + exp(-m2.m)) - l.y AS err
        |  FROM m2 JOIN lab l ON m2.vec_id = l.vec_id),
        |g2 AS (
        |  SELECT p.dim, avg(e2.err * p.v) AS g
        |  FROM pts p JOIN e2 ON p.vec_id = e2.vec_id
        |  GROUP BY p.dim)
        |SELECT w1.dim AS dim, round(w1.w - 0.1 * g2.g, 6) + 0.0 AS w
        |FROM w1 JOIN g2 ON w1.dim = g2.dim
        |ORDER BY w1.dim""".stripMargin,

    // l4's two-step unroll with cls threaded through every CTE (binary
    // target y = 1 iff label%3 = cls), one extra margins pass with the
    // final weights, argmax window (m DESC, cls) — the OvR convention.
    "l8_logreg_ovr" -> (ovrGd2Cte + """
        |SELECT vec_id, cls AS pred, round(m, 4) + 0.0 AS margin
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY m DESC, cls) AS rn FROM mf)
        |WHERE rn = 1
        |ORDER BY vec_id""".stripMargin),

    // Same fit chain; per-class sigmoid normalized across the <= 3
    // per-id rows (sklearn OneVsRest predict_proba convention).
    "l10_logreg_proba" -> (ovrGd2Cte + """
        |SELECT vec_id, cls,
        |  round(s / sum(s) OVER (PARTITION BY vec_id), 6) + 0.0 AS proba
        |FROM (SELECT vec_id, cls, 1.0 / (1.0 + exp(-m)) AS s FROM mf)
        |ORDER BY vec_id, cls""".stripMargin),

    // The DSIR chain of text_importance_weights feeding weighted OLS
    // moments: w = exp(sum_mnat / (n_bigrams * 1e6)); docs with < 2
    // tokens have no bigrams and drop out of the fit on both engines.
    "l9_weighted_ols" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS g
        |  FROM toks WHERE len(t) >= 2),
        |flat AS (SELECT doc_id, lang, g.w1 AS w1, g.w2 AS w2 FROM grams),
        |bit AS (SELECT w1, w2, count(*) AS c12_t FROM flat
        |  WHERE lang = 'en' GROUP BY 1, 2),
        |unit AS (SELECT w1, count(*) AS c1_t FROM flat
        |  WHERE lang = 'en' GROUP BY 1),
        |vt AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v_t FROM flat
        |  WHERE lang = 'en'),
        |bic AS (SELECT w1, w2, count(*) AS c12_c FROM flat GROUP BY 1, 2),
        |unic AS (SELECT w1, count(*) AS c1_c FROM flat GROUP BY 1),
        |vc AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v_c FROM flat),
        |scored AS (
        |  SELECT f.doc_id,
        |    CAST(round(ln((coalesce(c12_t, 0) + CAST(1.0 AS DOUBLE)) /
        |      (coalesce(c1_t, 0) + v_t)) * 1e6, 0) AS BIGINT)
        |    - CAST(round(ln((c12_c + CAST(1.0 AS DOUBLE)) /
        |      (c1_c + v_c)) * 1e6, 0) AS BIGINT) AS d
        |  FROM flat f
        |  LEFT JOIN bit USING (w1, w2)
        |  LEFT JOIN unit USING (w1)
        |  JOIN bic USING (w1, w2)
        |  JOIN unic USING (w1), vt, vc),
        |iw AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(d) AS BIGINT) AS sum_mnat
        |  FROM scored GROUP BY doc_id),
        |feats AS (
        |  SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS x,
        |    CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
        |      AS y,
        |    exp(CAST(i.sum_mnat AS DOUBLE) / (i.n_bigrams * 1e6)) AS w
        |  FROM documents d JOIN iw i ON d.doc_id = i.doc_id),
        |s AS (
        |  SELECT sum(w) AS sw, sum(w * x) AS swx, sum(w * y) AS swy,
        |    sum(w * x * x) AS swxx, sum(w * x * y) AS swxy
        |  FROM feats)
        |SELECT
        |  round((sw * swxy - swx * swy) /
        |    nullif(sw * swxx - swx * swx, 0.0), 4) + 0.0 AS slope,
        |  round((swy - (sw * swxy - swx * swy) /
        |    nullif(sw * swxx - swx * swx, 0.0) * swx) / sw, 4) + 0.0
        |    AS intercept
        |FROM s""".stripMargin,

    // The fitted model IS the rounded-6 n1 matrix; parquet preserves
    // those doubles bit-exactly, so fit-side and loaded-side argmax are
    // one computation — the oracle scores once and emits it twice.
    "ml_model_roundtrip" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |langs AS (SELECT doc_id, lang FROM documents),
        |toksl AS (SELECT t.doc_id, l.lang, t.term
        |          FROM toks t JOIN langs l ON t.doc_id = l.doc_id),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl
        |           GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM langs),
        |vocab AS (SELECT DISTINCT term FROM toksl),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct
        |           FROM counts GROUP BY lang),
        |lp AS (
        |  SELECT c.lang, vo.term,
        |    round(ln((coalesce(k.cnt, 0) + 1.0) /
        |      (t.ct + 1.0 * (SELECT v FROM vs))), 6) AS lpv
        |  FROM classes c CROSS JOIN vocab vo
        |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |  JOIN totals t ON t.lang = c.lang),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       GROUP BY doc_id, term),
        |nd AS (SELECT count(*) AS n FROM documents),
        |pri AS (
        |  SELECT lang, ln(count(*) * 1.0 / (SELECT n FROM nd)) AS prior
        |  FROM documents GROUP BY lang),
        |scores AS (
        |  SELECT tf.doc_id, lp.lang,
        |    sum(tf.tf * lp.lpv) + any_value(p.prior) AS score
        |  FROM tf JOIN lp ON tf.term = lp.term
        |  JOIN pri p ON p.lang = lp.lang
        |  GROUP BY tf.doc_id, lp.lang),
        |preds AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang) AS rn
        |  FROM scores)
        |SELECT doc_id, lang AS pred_fit, lang AS pred_loaded
        |FROM preds WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "n10_weighted_nb_fit" ->
      """WITH dw AS (
        |  SELECT doc_id, lang, text,
        |    CAST(1 + doc_id % 3 AS DOUBLE) AS w FROM documents),
        |toks AS (
        |  SELECT lang, w, unnest(string_split(text, ' ')) AS term FROM dw),
        |counts AS (SELECT lang, term, sum(w) AS wcnt FROM toks
        |           GROUP BY 1, 2),
        |classes AS (SELECT DISTINCT lang FROM toks),
        |vocab AS (SELECT DISTINCT term FROM toks),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, sum(wcnt) AS class_total FROM counts
        |           GROUP BY lang)
        |SELECT c.lang, vo.term, coalesce(k.wcnt, 0.0) + 0.0 AS wcnt,
        |  round(ln((coalesce(k.wcnt, 0.0) + 1.0) /
        |    (t.class_total + 1.0 * (SELECT v FROM vs))), 6) AS log_prob
        |FROM classes c
        |CROSS JOIN vocab vo
        |LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |JOIN totals t ON t.lang = c.lang
        |ORDER BY 1, 2""".stripMargin,

    // l4's two-step unroll with a blk column threaded through every
    // CTE (weights zero-init per block, so step 1 is -lr·avg((σ(0)−y)·v)
    // within the block), then the cross-block coefficient average.
    "l1_block_averaged_logistic" ->
      """WITH pts AS (
        |  SELECT vec_id,
        |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 2 AS INT) AS blk,
        |    CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |lab AS (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
        |w1 AS (
        |  SELECT blk, dim, -0.1 * avg((0.5 - l.y) * p.v) AS w
        |  FROM pts p JOIN lab l ON p.vec_id = l.vec_id
        |  GROUP BY blk, dim),
        |m2 AS (
        |  SELECT p.blk, p.vec_id, sum(p.v * w1.w) AS m
        |  FROM pts p JOIN w1 ON p.blk = w1.blk AND p.dim = w1.dim
        |  GROUP BY p.blk, p.vec_id),
        |e2 AS (
        |  SELECT m2.blk, m2.vec_id, 1.0 / (1.0 + exp(-m2.m)) - l.y AS err
        |  FROM m2 JOIN lab l ON m2.vec_id = l.vec_id),
        |g2 AS (
        |  SELECT p.blk, p.dim, avg(e2.err * p.v) AS g
        |  FROM pts p JOIN e2 ON p.vec_id = e2.vec_id
        |  GROUP BY p.blk, p.dim),
        |wb AS (
        |  SELECT w1.blk, w1.dim, w1.w - 0.1 * g2.g AS w
        |  FROM w1 JOIN g2 ON w1.blk = g2.blk AND w1.dim = g2.dim)
        |SELECT dim, round(avg(w), 6) + 0.0 AS w_avg,
        |  CAST(count(*) AS BIGINT) AS n_blocks
        |FROM wb GROUP BY dim ORDER BY dim""".stripMargin,

    "c2_kmeans_lloyd" ->
      """WITH pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cid, dim, v AS c
        |       FROM pts WHERE vec_id < 8),
        |d1 AS (
        |  SELECT p.vec_id, c.cid, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN c0 c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.cid),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d1) WHERE rn = 1),
        |c1 AS (
        |  SELECT a.cid, p.dim, avg(p.v) AS c
        |  FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cid, p.dim),
        |d2 AS (
        |  SELECT p.vec_id, c.cid, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN c1 c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.cid),
        |a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d2) WHERE rn = 1),
        |c2 AS (
        |  SELECT a.cid, p.dim, avg(p.v) AS c
        |  FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cid, p.dim)
        |SELECT cid, dim, round(c, 4) + 0.0 AS c
        |FROM c2
        |ORDER BY cid, dim""".stripMargin,

    "c1_kmeans_assign" ->
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS center_label, dim, avg(v) AS c
        |        FROM ptsl GROUP BY label, dim),
        |d AS (
        |  SELECT p.vec_id, c.center_label,
        |    sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN ctr c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.center_label),
        |a AS (
        |  SELECT vec_id, center_label,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY dist2, center_label) AS rn
        |  FROM d)
        |SELECT CAST(center_label AS INT) AS center_label, count(*) AS n_assigned
        |FROM a WHERE rn = 1
        |GROUP BY center_label
        |ORDER BY center_label""".stripMargin,

    "c3_gramian" ->
      """WITH lf AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |)
        |SELECT CAST(a.dim AS INT) AS dim_i, CAST(b.dim AS INT) AS dim_j,
        |  round(sum(a.v * b.v), 4) AS gram
        |FROM lf a JOIN lf b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        |WHERE a.dim <= 6 AND b.dim <= 6
        |GROUP BY a.dim, b.dim
        |ORDER BY dim_i, dim_j""".stripMargin,

    // Same generated Cramer text as olsFitN(d=4) evaluates in Spark.
    "l7_ols_quadrivariate" -> {
      val d = 4
      val xs = Seq("l_quantity", "l_discount", "l_tax", "l_linenumber")
      def cd(c: String) = s"CAST($c AS DOUBLE)"
      val moments = (
        Seq("CAST(count(*) AS DOUBLE) AS n") ++
          (1 to d).map(i => s"sum(${cd(xs(i - 1))}) AS s$i") ++
          Seq(s"sum(${cd("l_extendedprice")}) AS sy") ++
          (for (i <- 1 to d; j <- i to d)
            yield s"sum(${cd(xs(i - 1))} * ${cd(xs(j - 1))}) AS s$i$j") ++
          (1 to d).map(i =>
            s"sum(${cd(xs(i - 1))} * ${cd("l_extendedprice")}) AS s${i}y")
        ).mkString(",\n    ")
      val betas = (0 to d).map { j =>
        s"round((${LinearOps.olsBetaSql(d, j)}) / " +
          s"nullif((${LinearOps.detSql(LinearOps.olsMatrix(d))}), 0), 4) " +
          s"+ 0.0 AS b$j"
      }.mkString(",\n    ")
      s"""WITH m AS (
         |  SELECT
         |    $moments
         |  FROM lineitem)
         |SELECT
         |    $betas
         |FROM m""".stripMargin
    },

    // Update-for-update replay of fitKMeansPinned: per-label-mean seeds,
    // two Lloyd rounds, exact-distance final assignment (ties -> lowest
    // cid, the same row_number total order).
    "ml_kmeans_sizes" ->
      """WITH pts AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |lbl AS (SELECT vec_id, CAST(label AS INT) AS cid FROM embeddings),
        |c0 AS (
        |  SELECT l.cid, p.dim, avg(p.v) AS c
        |  FROM pts p JOIN lbl l USING (vec_id)
        |  GROUP BY l.cid, p.dim),
        |d1 AS (
        |  SELECT p.vec_id, c.cid, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN c0 c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.cid),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d1) WHERE rn = 1),
        |c1 AS (
        |  SELECT a.cid, p.dim, avg(p.v) AS c
        |  FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cid, p.dim),
        |d2 AS (
        |  SELECT p.vec_id, c.cid, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN c1 c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.cid),
        |a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d2) WHERE rn = 1),
        |c2 AS (
        |  SELECT a.cid, p.dim, avg(p.v) AS c
        |  FROM pts p JOIN a2 a ON p.vec_id = a.vec_id
        |  GROUP BY a.cid, p.dim),
        |d3 AS (
        |  SELECT p.vec_id, c.cid, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN c2 c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.cid),
        |a3 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |    FROM d3) WHERE rn = 1)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum
        |FROM a3
        |GROUP BY cid
        |ORDER BY cid""".stripMargin,

    // Closed-form top right-singular-vector of the 2-column slice:
    // Gramian [[a,b],[b,c]] eigenpair, normalized, sign-canonicalized by
    // the largest-|component| rule (ties -> lowest index) — the exact
    // mirror of ClusterOps.fitSvd's canonicalization.
    "c6_svd2_project" ->
      """WITH p AS (
        |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y
        |  FROM embeddings),
        |g AS (SELECT sum(x*x) AS a, sum(x*y) AS b, sum(y*y) AS c FROM p),
        |e AS (SELECT a, b,
        |        (a + c + sqrt((a - c)*(a - c) + 4*b*b)) / 2 AS lam FROM g),
        |v AS (SELECT b AS v1, lam - a AS v2 FROM e),
        |u AS (SELECT v1 / sqrt(v1*v1 + v2*v2) AS u1,
        |        v2 / sqrt(v1*v1 + v2*v2) AS u2 FROM v),
        |s AS (SELECT u1 * sg AS u1, u2 * sg AS u2 FROM (
        |        SELECT u1, u2, CASE WHEN (CASE WHEN abs(u1) >= abs(u2)
        |          THEN u1 ELSE u2 END) < 0 THEN -1 ELSE 1 END AS sg FROM u))
        |SELECT p.vec_id, round(p.x * s.u1 + p.y * s.u2, 5) + 0.0 AS pc1
        |FROM p, s
        |ORDER BY vec_id""".stripMargin,

    // Same Cramer closed form as l6_ols_trivariate — spark.ml's "normal"
    // solver solves the identical normal equations (coarser rounding
    // absorbs the Cholesky-vs-Cramer float path difference).
    "ml_linreg_fit" -> {
      val betas = (0 until 4).map { j =>
        s"round((${LinearOps.olsBetaSql(3, j)}) / " +
          s"nullif((${LinearOps.detSql(LinearOps.olsMatrix(3))}), 0), 3) " +
          s"+ 0.0 AS b$j"
      }.mkString(",\n    ")
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    sum(l_quantity) AS s1, sum(l_discount) AS s2,
         |    sum(l_tax) AS s3, sum(l_extendedprice) AS sy,
         |    sum(l_quantity * l_quantity) AS s11,
         |    sum(l_quantity * l_discount) AS s12,
         |    sum(l_quantity * l_tax) AS s13,
         |    sum(l_discount * l_discount) AS s22,
         |    sum(l_discount * l_tax) AS s23,
         |    sum(l_tax * l_tax) AS s33,
         |    sum(l_quantity * l_extendedprice) AS s1y,
         |    sum(l_discount * l_extendedprice) AS s2y,
         |    sum(l_tax * l_extendedprice) AS s3y
         |  FROM lineitem)
         |SELECT
         |    $betas
         |FROM m""".stripMargin
    },

    // The three family scores unrolled: the n6 NB-predict chain to an
    // overall accuracy, the l2 fit chain to in-sample R² (SStot as
    // var_pop·n, the engine's stable one-pass form), and the c1 center
    // chain to −Σ nearest-dist².
    "ml_score_uniform" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |langs AS (SELECT doc_id, lang FROM documents),
        |toksl AS (SELECT t.doc_id, l.lang, t.term
        |          FROM toks t JOIN langs l ON t.doc_id = l.doc_id),
        |counts AS (SELECT lang, term, count(*) AS cnt FROM toksl GROUP BY lang, term),
        |classes AS (SELECT DISTINCT lang FROM langs),
        |vocab AS (SELECT DISTINCT term FROM toksl),
        |vs AS (SELECT count(*) AS v FROM vocab),
        |totals AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ct FROM counts GROUP BY lang),
        |lp AS (
        |  SELECT c.lang, vo.term,
        |    ln((coalesce(k.cnt, 0) + 1.0) / (t.ct + 1.0 * (SELECT v FROM vs))) AS lpv
        |  FROM classes c CROSS JOIN vocab vo
        |  LEFT JOIN counts k ON k.lang = c.lang AND k.term = vo.term
        |  JOIN totals t ON t.lang = c.lang),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |priors AS (SELECT lang, ln(count(*) * 1.0 / (SELECT nd FROM nd)) AS prior
        |           FROM langs GROUP BY lang),
        |scores AS (
        |  SELECT tf.doc_id, lp.lang, sum(tf.tf * lp.lpv) AS ll
        |  FROM tf JOIN lp ON tf.term = lp.term
        |  GROUP BY tf.doc_id, lp.lang),
        |ranked AS (
        |  SELECT s.doc_id, s.lang,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.ll + p.prior DESC, s.lang) AS rn
        |  FROM scores s JOIN priors p ON s.lang = p.lang),
        |nbpreds AS (
        |  SELECT r.doc_id, r.lang AS pred, l.lang AS actual
        |  FROM ranked r JOIN langs l ON r.doc_id = l.doc_id
        |  WHERE r.rn = 1),
        |clf AS (
        |  SELECT 'nb_multinomial' AS estimator, 'accuracy' AS kind,
        |    count(*) AS n,
        |    round(avg(CASE WHEN pred = actual THEN 1.0 ELSE 0.0 END), 4)
        |      + 0.0 AS score
        |  FROM nbpreds),
        |fit AS (
        |  SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 6) AS slope,
        |    round(avg(l_extendedprice) -
        |      covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity), 6)
        |      AS intercept
        |  FROM lineitem),
        |regp AS (
        |  SELECT l_extendedprice AS actual,
        |    fit.intercept + fit.slope * l_quantity AS pred
        |  FROM lineitem, fit),
        |reg AS (
        |  SELECT 'ols_univariate' AS estimator, 'r2' AS kind,
        |    count(*) AS n,
        |    round(CASE WHEN var_pop(actual) = 0 THEN 0.0
        |      ELSE 1.0 - sum((actual - pred) * (actual - pred)) /
        |        (var_pop(actual) * count(*)) END, 4) + 0.0 AS score
        |  FROM regp),
        |pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS center_label, dim, avg(v) AS c
        |        FROM ptsl GROUP BY label, dim),
        |d AS (
        |  SELECT p.vec_id, c.center_label,
        |    sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN ctr c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.center_label),
        |nearest AS (SELECT vec_id, min(dist2) AS dist2 FROM d GROUP BY vec_id),
        |clu AS (
        |  SELECT 'kmeans_assign' AS estimator, 'neg_inertia' AS kind,
        |    count(*) AS n, round(-sum(dist2), 4) + 0.0 AS score
        |  FROM nearest),
        |u AS (SELECT * FROM clf UNION ALL SELECT * FROM reg
        |      UNION ALL SELECT * FROM clu)
        |SELECT estimator, kind, n, score FROM u
        |ORDER BY estimator""".stripMargin,

    // Segmented twins of the two non-classifier legs: per-returnflag R²
    // of the one global fit (per-group var_pop · n as SStot), and
    // per-center −Σ dist² of the fixed-center assignment.
    "ml_score_by_group" ->
      """WITH fit AS (
        |  SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 6) AS slope,
        |    round(avg(l_extendedprice) -
        |      covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) * avg(l_quantity), 6)
        |      AS intercept
        |  FROM lineitem),
        |regp AS (
        |  SELECT l_returnflag, l_extendedprice AS actual,
        |    fit.intercept + fit.slope * l_quantity AS pred
        |  FROM lineitem, fit),
        |reg AS (
        |  SELECT 'ols_univariate' AS estimator,
        |    CAST(l_returnflag AS VARCHAR) AS "group", 'r2' AS kind,
        |    count(*) AS n,
        |    round(CASE WHEN var_pop(actual) = 0 THEN 0.0
        |      ELSE 1.0 - sum((actual - pred) * (actual - pred)) /
        |        (var_pop(actual) * count(*)) END, 4) + 0.0 AS score
        |  FROM regp GROUP BY l_returnflag),
        |pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS center_label, dim, avg(v) AS c
        |        FROM ptsl GROUP BY label, dim),
        |d AS (
        |  SELECT p.vec_id, c.center_label,
        |    sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |  FROM pts p JOIN ctr c ON p.dim = c.dim
        |  GROUP BY p.vec_id, c.center_label),
        |a AS (
        |  SELECT vec_id, center_label, dist2,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY dist2, center_label) AS rn
        |  FROM d),
        |clu AS (
        |  SELECT 'kmeans_assign' AS estimator,
        |    CAST(center_label AS VARCHAR) AS "group",
        |    'neg_inertia' AS kind, count(*) AS n,
        |    round(-sum(dist2), 4) + 0.0 AS score
        |  FROM a WHERE rn = 1 GROUP BY center_label),
        |u AS (SELECT * FROM reg UNION ALL SELECT * FROM clu)
        |SELECT estimator, "group", kind, n, score FROM u
        |ORDER BY estimator, "group"""".stripMargin
  )
}
