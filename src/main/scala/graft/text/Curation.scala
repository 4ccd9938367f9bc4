package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** End-to-end crawl-curation funnel: URL gate → HTML main-content
  * extraction → quality gate → exact content dedup → survivor, emitted
  * as one disposition row per input page (the artifact a corpus build
  * writes next to the corpus so every drop is attributable).
  *
  * Stage semantics (each independently available in this library):
  *  - url_ok: the page's URL yields a non-empty registered domain
  *    ([[Urls.registeredDomain]]) — unparseable URLs are dropped, not
  *    crashed on.
  *  - main content: [[Html.mainContent]] with (minWords,
  *    maxLinkDensity) block gates.
  *  - quality_ok: >= `minTextWords` whitespace-separated words of main
  *    text.
  *  - is_exact_dup: md5(main_text) already seen on a LOWER doc id among
  *    pages that passed both gates (min-id keeper; gated pages can
  *    never displace a keeper).
  *  - survivor = url_ok AND quality_ok AND NOT is_exact_dup.
  *
  * 100 TB posture: two map-side stages (URL parse, HTML strip), one
  * per-doc reassembly groupBy bounded by page size, one 16-byte-key
  * keeper aggregation (map-side combinable min) and its
  * one-row-per-key join back — the shuffle budget of exact dedup
  * alone; the gates are free predicates on already-computed columns.
  */
object Curation {

  /** Disposition per page. `docs` must carry `idCol` (orderable),
    * `urlCol`, `htmlCol`. Returns (idCol, domain, url_ok, n_blocks,
    * n_kept, n_words, quality_ok, is_exact_dup, survivor).
    */
  def disposition(docs: DataFrame, idCol: String, urlCol: String,
                  htmlCol: String, minTextWords: Int = 10,
                  blockMinWords: Int = 5,
                  blockMaxLinkDensity: Double = 0.33): DataFrame =
    dispositionFull(docs, idCol, urlCol, htmlCol, minTextWords,
      blockMinWords, blockMaxLinkDensity)._1
      .select(col(idCol), col("domain"), col("url_ok"), col("n_blocks"),
        col("n_kept"), col("n_words"), col("quality_ok"),
        col("is_exact_dup"), col("survivor"))

  /** [[disposition]] before the output projection — keeps `main_text`
    * for stages that score the extracted content ([[scoredDisposition]]).
    * Returns (frame, d0 persist handle): d0 is the result's live
    * lineage here, but the scored paths supersede it with their own
    * materialization and unpersist it — without the handle the four
    * DISK_ONLY frames of a scored invocation accumulated across a pack
    * run (r16 advice).
    */
  private def dispositionFull(docs: DataFrame, idCol: String,
                              urlCol: String, htmlCol: String,
                              minTextWords: Int, blockMinWords: Int,
                              blockMaxLinkDensity: Double)
      : (DataFrame, DataFrame) = {
    val withDomain = docs.withColumn("domain",
      Urls.registeredDomain(Urls.hostOf(col(urlCol))))
    val mc = Html.mainContent(withDomain, idCol, htmlCol,
      blockMinWords, blockMaxLinkDensity)
    // d0 feeds BOTH the keeper aggregation and the output row — without
    // the materialization the whole HTML-extraction subtree would run
    // twice (the r7 shingle-relation lesson; at 100 TB that is a second
    // full pass over the crawl). DISK_ONLY persist, NOT localCheckpoint:
    // d0 carries main_text, i.e. it is corpus-sized, and localCheckpoint
    // blocks are unrecoverable after executor loss (the r9 criterion) —
    // persist keeps the lineage so a lost block recomputes from the scan.
    val d0 = withDomain.select(col(idCol), col("domain"))
      .join(mc, idCol)
      .withColumn("url_ok", col("domain") =!= "")
      .withColumn("n_words",
        when(col("main_text") === "", lit(0))
          .otherwise(size(split(col("main_text"), "\\s+"))))
      .withColumn("quality_ok", col("n_words") >= minTextWords)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val keepers = d0.where(col("url_ok") && col("quality_ok"))
      .groupBy(md5(col("main_text")).as("_h"))
      .agg(min(col(idCol)).as("_kid"))
    val out = d0.withColumn("_h", md5(col("main_text")))
      .join(keepers, Seq("_h"), "left")
      .withColumn("is_exact_dup",
        col("url_ok") && col("quality_ok") &&
          coalesce(col("_kid") =!= col(idCol), lit(false)))
      .withColumn("survivor",
        col("url_ok") && col("quality_ok") && !col("is_exact_dup"))
    (out, d0)
  }

  /** Optional model-scored gate on top of [[disposition]]: a
    * deterministic logistic quality classifier
    * ([[graft.mlops.LinearOps.logisticGdIterations]] — zero-init
    * full-batch GD, no RNG) trained IN-CORPUS on the rule gates' own
    * verdict (y = url_ok ∧ quality_ok) over four content features of
    * the extracted main text:
    *
    *   f1 word count (scaled /100), f2 kept-block ratio,
    *   f3 stopword ratio, f4 mean bigram LM score (micro-nat
    *   quantized, the [[TextAnalysis.bigramLmScore]] arithmetic over
    *   a model fit on the extracted corpus itself).
    *
    * The learned margin generalizes the hard gates into a graded score
    * — the CCNet "LM + quality features" stage — while staying fully
    * SQL-oracle-able (fixed iterations; `score_ok` compares the
    * ROUNDED margin so the boundary cannot drift between engines).
    * Output = [[disposition]] columns + (quality_margin, score_ok,
    * survivor_scored = survivor ∧ score_ok).
    *
    * Scale shape: one extra pass over the persisted extracted corpus
    * for features + the bigram model (both keyed aggregations), GD on
    * a 4-dim long form (weights are a 1-row broadcast), margin in-row.
    */
  def scoredDisposition(docs: DataFrame, idCol: String, urlCol: String,
                        htmlCol: String, minTextWords: Int = 10,
                        blockMinWords: Int = 5,
                        blockMaxLinkDensity: Double = 0.33,
                        stopwords: Seq[String] =
                          TextAnalysis.DefaultStopwords,
                        iters: Int = 2, lr: Double = 0.1): DataFrame = {
    val parts = scoredCore(docs, idCol, urlCol, htmlCol,
      minTextWords, blockMinWords, blockMaxLinkDensity, stopwords, iters,
      lr)
    // scoredCore's GD actions materialized every persisted frame; the
    // output below reads only `feats`, so the upstream intermediates
    // (d0, d3, g3) release now instead of leaking for the session
    // (feats stays — it is the result's direct source; a lost block
    // recomputes through the full lineage, the r9 criterion).
    Seq(parts.d0, parts.d3, parts.g3).foreach(_.unpersist(false))
    parts.feats.crossJoin(broadcast(parts.wRow))
      // in-row fixed-order dot product: the one FP expression both
      // engines evaluate identically by construction
      .withColumn("quality_margin",
        round(col("f1") * col("w1") + col("f2") * col("w2") +
          col("f3") * col("w3") + col("f4") * col("w4"), 6) + lit(0.0))
      .withColumn("score_ok", col("quality_margin") > 0.0)
      .withColumn("survivor_scored", col("survivor") && col("score_ok"))
      .select(col(idCol), col("domain"), col("url_ok"), col("n_blocks"),
        col("n_kept"), col("n_words"), col("quality_ok"),
        col("is_exact_dup"), col("survivor"), col("quality_margin"),
        col("score_ok"), col("survivor_scored"))
  }

  /** The DEPLOYABLE scored-gate model: train on a batch corpus, ship
    * the artifacts, score a stream. Returns (weights row — the 1-row
    * (w1..w4) frame the batch margin broadcasts, UNROUNDED so a deploy
    * path multiplies the identical doubles; bigram LM score table —
    * one (w1, w2, m) row per distinct transition, m the same micro-nat
    * long the batch per-doc sums use). `lmTopM` bounds the shipped
    * table to the M transitions with the largest corpus mass (the
    * CCNet pattern of shipping a fixed LM) — ties broken by (w1, w2)
    * so the cut is a total order; selection is the salted two-phase
    * top-N ([[graft.text.Urls.perDomainCap]] under a constant group),
    * so no task ever sorts the full transition vocabulary. Scores `m`
    * are computed BEFORE the cut from full-corpus counts: the bound
    * selects rows, never changes values — which is what
    * [[graft.streaming.EventStreams.scoredCurationGate]]'s mean-over-
    * known-transitions degrades to gracefully.
    */
  def scoredGateModel(docs: DataFrame, idCol: String, urlCol: String,
                      htmlCol: String, minTextWords: Int = 10,
                      blockMinWords: Int = 5,
                      blockMaxLinkDensity: Double = 0.33,
                      stopwords: Seq[String] =
                        TextAnalysis.DefaultStopwords,
                      iters: Int = 2, lr: Double = 0.1,
                      lmTopM: Int = Int.MaxValue, lmSalts: Int = 32)
      : (DataFrame, DataFrame) = {
    require(lmTopM >= 1, s"lmTopM=$lmTopM must be positive")
    val parts = scoredCore(docs, idCol, urlCol, htmlCol,
      minTextWords, blockMinWords, blockMaxLinkDensity, stopwords, iters,
      lr)
    val capped =
      if (lmTopM == Int.MaxValue) parts.lmTable
      else Urls.perDomainCap(parts.lmMass, lit(1),
          Seq(col("c12").desc, col("w1"), col("w2")),
          concat_ws(" ", col("w1"), col("w2")), lmTopM, lmSalts)
        .select(col("w1"), col("w2"), col("m"))
    // Materialize the deployable LM artifact, then release every
    // training intermediate: the returned lmTable is the ONE persisted
    // frame a model-export invocation leaves behind (it IS the shipped
    // artifact; callers done with it should unpersist()).
    val lmT = capped
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    lmT.count()
    Seq(parts.d0, parts.d3, parts.g3, parts.feats)
      .foreach(_.unpersist(false))
    (parts.wRow, lmT)
  }

  /** The scored-gate training intermediates: the persisted frames a
    * caller must release once its outputs are materialized. `lmMass`
    * is `lmTable` plus the per-transition corpus mass `c12` — the
    * rank key a top-M bound orders by (same lineage, zero extra cost).
    */
  private case class ScoredParts(feats: DataFrame, wRow: DataFrame,
                                 lmTable: DataFrame, lmMass: DataFrame,
                                 d0: DataFrame, d3: DataFrame,
                                 g3: DataFrame)

  private def scoredCore(docs: DataFrame, idCol: String, urlCol: String,
                         htmlCol: String, minTextWords: Int,
                         blockMinWords: Int, blockMaxLinkDensity: Double,
                         stopwords: Seq[String], iters: Int, lr: Double)
      : ScoredParts = {
    val (dispo, d0) = dispositionFull(docs, idCol, urlCol, htmlCol,
      minTextWords, blockMinWords, blockMaxLinkDensity)
    // d3 deliberately NOT persisted (r21): its two readers (the gram
    // explode and the feature projection) replay only the keeper
    // aggregation + join on top of the persisted d0 — a 16-byte-key
    // shuffle per replay — where persisting d3 wrote the whole corpus
    // (main_text included) to disk a SECOND time next to d0. One fewer
    // corpus-sized materialization at every scale; values unchanged.
    val d3 = dispo
    val tk = d3.where(col("main_text") =!= "")
      .select(col(idCol), split(col("main_text"), "\\s+").as("_ts"))
    // stopwords ride as literal Columns, never spliced SQL text — a
    // caller-supplied word containing a quote must stay a value, not
    // become syntax (r16 advice; lit() is injection-free for all of
    // them)
    val stopArr = array(stopwords.map(lit): _*)
    // stop-word ratio is IN-ROW (r18): it was a corpus-sized projection
    // of d3 joined back to d3 by id — a shuffle join of the corpus
    // against itself to merge a value computable from the row it was
    // derived from. The when-guard + coalesce reproduces the old
    // left-join-then-coalesce semantics exactly (empty or NULL
    // main_text → 0.0); only the lm join below remains, because per-doc
    // LM mass genuinely aggregates across rows.
    val stopRatioCol = coalesce(
      when(col("main_text") =!= "",
        size(filter(split(col("main_text"), "\\s+"),
          t => array_contains(stopArr, t))) *
          lit(1.0) / size(split(col("main_text"), "\\s+"))),
      lit(0.0))
    // corpus bigram model over the extracted texts (micro-nat quantized
    // per transition — order-independent integer sums per doc)
    val grams = tk.where(size(col("_ts")) >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(1, size(_ts) - 1),
          |  i -> struct(element_at(_ts, i) AS w1,
          |              element_at(_ts, i + 1) AS w2))""".stripMargin))
        .as("_g"))
      .select(col(idCol), col("_g.w1").as("w1"), col("_g.w2").as("w2"))
    // ONE bigram explode: the per-(doc, transition) multiplicity frame
    // every LM statistic derives from — corpus counts are re-sums of
    // _ng and the per-doc micro-nat sum weights the (identical) rounded
    // transition score by its repeat count, exact long arithmetic
    // either way. Without this the explode ran once per consumer
    // (corpus totals ×2 + the per-doc join). Corpus-sized, re-read 3× →
    // DISK_ONLY (r9 criterion).
    val g3 = grams.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("_ng"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val bi = g3.groupBy(col("w1"), col("w2")).agg(sum(col("_ng")).as("c12"))
    val uni = g3.groupBy(col("w1")).agg(sum(col("_ng")).as("c1"))
    val lm = g3.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
      .select(col(idCol), col("_ng"),
        round(log(col("c12") / col("c1")) * lit(1e6), 0).cast("long")
          .as("_m"))
      .groupBy(col(idCol))
      .agg(sum(col("_ng")).as("_nb"),
        sum(col("_ng") * col("_m")).as("_sm"))
    val feats = d3
      .join(lm, Seq(idCol), "left")
      .select(col(idCol), col("domain"), col("url_ok"), col("n_blocks"),
        col("n_kept"), col("n_words"), col("quality_ok"),
        col("is_exact_dup"), col("survivor"),
        // f1/f2 coalesced like f3/f4 (r22, advisory): the wide-form GD
        // aggregate below carries weights through max() next to the
        // avg() gradients, so ONE null feature would silently drop the
        // doc from ALL FOUR gradient denominators (the long form only
        // skipped the null dim). Unreachable today (both derive from
        // non-null aggregation outputs), but the wide/long equivalence
        // must not depend on upstream null-freedom.
        coalesce(col("n_words") / lit(100.0), lit(0.0)).as("f1"),
        coalesce(col("n_kept") * lit(1.0) / greatest(col("n_blocks"), lit(1)),
          lit(0.0)).as("f2"),
        stopRatioCol.as("f3"),
        coalesce(col("_sm") * lit(1.0) / col("_nb") / lit(1e6), lit(0.0))
          .as("f4"))
      // read by the GD long form, the labels, AND the final margin
      // projection; materialized AFTER the projection so the frame is
      // 13 scalar columns per doc (main_text stays behind in d3) —
      // corpus-proportional and re-read → DISK_ONLY blocks (r9
      // criterion). localCheckpoint(eager), not a lazy persist (r22):
      // every GD step's aggregation job re-references this frame, and
      // the eager checkpoint both guarantees a single materialization
      // pass and lands blocks at the AQE-coalesced width instead of the
      // session's fixed shuffle width (near-empty full-width task waves
      // per step at bench scale).
      .localCheckpoint(eager = true, storageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // Wide-form GD (r21): at 4 fixed features the long-form explode +
    // per-step join chain (weights⋈dim, margins groupBy id, errs⋈labels,
    // grad groupBy dim — ~4 shuffles per step) collapses into ONE
    // map-side-combinable aggregation per step over the pinned scalar
    // feature frame. The four weights are driver state (as in
    // LinearOps' packed GD), so nothing is materialized per step: each
    // step's job reads them as literals and returns the four gradients
    // avg(err·f_j), and w_j − lr·avg_j is one double multiply and
    // subtract on the driver. The margin accumulates in the same dim
    // order the long-form hash aggregate used (f1·w1 + f2·w2 + f3·w3 +
    // f4·w4, left to right) and the gradient is the same avg(err·f_j),
    // so the fit replays the identical GD the SQL oracle unrolls. The
    // generic long-form operator
    // ([[graft.mlops.LinearOps.logisticGdIterations]]) remains the
    // public surface for arbitrary-dimensional fits.
    // an empty feature frame has no gradient: its weights are null
    val fs = Seq("f1", "f2", "f3", "f4")
    var w: Option[Seq[Double]] = Some(fs.map(_ => 0.0))
    (1 to iters).foreach { _ =>
      w = w.flatMap { ws =>
        val m = fs.zip(ws).map { case (f, wj) => col(f) * lit(wj) }
          .reduce(_ + _)
        val err = lit(1.0) / (lit(1.0) + exp(-m)) -
          (col("url_ok") && col("quality_ok")).cast("double")
        val grads = fs.map(f => avg(col("_err") * col(f)))
        val g = feats.select(err.as("_err") +: fs.map(col): _*)
          .agg(grads.head, grads.tail: _*).head()
        if (g.isNullAt(0)) None
        else Some(ws.indices.map(j => ws(j) - lr * g.getDouble(j)))
      }
    }
    val wRow = feats.sparkSession.createDataFrame(
      java.util.List.of(Row(w.getOrElse(fs.map(_ => null)): _*)),
      StructType(fs.map(f => StructField(s"w${f.tail}", DoubleType))))
    // the distinct-transition score table (the deployable LM artifact):
    // the same micro-nat long the per-doc sums above weight by _ng;
    // lmMass keeps the transition's corpus mass as the top-M rank key
    val lmMass = bi.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log(col("c12") / col("c1")) * lit(1e6), 0).cast("long")
          .as("m"),
        col("c12"))
    val lmTable = lmMass.select(col("w1"), col("w2"), col("m"))
    ScoredParts(feats, wRow, lmTable, lmMass, d0, d3, g3)
  }

  /** Funnel rollup of [[disposition]] (or [[scoredDisposition]] — the
    * scored stage appears when its column is present): docs surviving
    * each successive stage, stage names prefixed for a stable sort.
    */
  def funnel(disposition: DataFrame): DataFrame =
    if (disposition.columns.contains("survivor_scored"))
      disposition.agg(
          count(lit(1)).as("a_input"),
          count(when(col("url_ok"), 1)).as("b_url_ok"),
          count(when(col("url_ok") && col("quality_ok"), 1))
            .as("c_quality_ok"),
          count(when(col("survivor"), 1)).as("d_survivor"),
          count(when(col("survivor_scored"), 1)).as("e_scored"))
        .selectExpr("stack(5, 'a_input', a_input, 'b_url_ok', b_url_ok, " +
          "'c_quality_ok', c_quality_ok, 'd_survivor', d_survivor, " +
          "'e_scored', e_scored) AS (stage, n_docs)")
    else disposition.agg(
        count(lit(1)).as("a_input"),
        count(when(col("url_ok"), 1)).as("b_url_ok"),
        count(when(col("url_ok") && col("quality_ok"), 1))
          .as("c_quality_ok"),
        count(when(col("survivor"), 1)).as("d_survivor"))
      .selectExpr("stack(4, 'a_input', a_input, 'b_url_ok', b_url_ok, " +
        "'c_quality_ok', c_quality_ok, 'd_survivor', d_survivor) " +
        "AS (stage, n_docs)")
}
