package graft

import graft.mlops.{ClusterOps, LinearOps, NaiveBayesOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MLOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("multinomial NB fit: smoothed log-probs match hand computation") {
    val toks = Seq(("pos", "good"), ("pos", "good"), ("pos", "bad"),
      ("neg", "bad")).toDF("cls", "term")
    val lp = NaiveBayesOps.multinomialFit(toks, "cls", "term")
      .select("cls", "term", "log_prob")
      .as[(String, String, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    // vocab=2; pos: good cnt=2 total=3 -> ln(3/5); neg: good cnt=0 total=1 -> ln(1/3)
    assert(math.abs(lp(("pos", "good")) - math.log(3.0 / 5.0)) < 1e-5)
    assert(math.abs(lp(("neg", "good")) - math.log(1.0 / 3.0)) < 1e-5)
  }

  test("multinomial NB predict recovers an obvious class") {
    val docs = Seq((1L, "spark spark spark", "tech"), (2L, "cat cat cat", "pets"),
      (3L, "spark spark cat", "tech"), (4L, "cat dog dog", "pets"))
      .toDF("doc_id", "text", "cls")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val pred = NaiveBayesOps.multinomialPredict(toks, "doc_id", "term",
      docs.select("doc_id", "cls"), "cls")
      .as[(Long, String)].collect().toMap
    assert(pred(1L) === "tech" && pred(2L) === "pets")
  }

  test("gaussianFit: per-class moments") {
    val lf = Seq((0, 1, 1.0), (0, 1, 3.0), (1, 1, 10.0))
      .toDF("label", "dim", "v")
    val fit = NaiveBayesOps.gaussianFit(lf, "label")
      .orderBy("label").as[(Int, Int, Double, Double, Long)].collect()
    assert(fit(0) === ((0, 1, 2.0, 1.0, 2L))) // mean 2, var_pop 1
    assert(fit(1)._3 === 10.0 && fit(1)._4 === 0.0)
  }

  test("olsFit recovers a noiseless line") {
    val df = (1 to 100).map(i => (i.toDouble, 3.0 * i + 7.0)).toDF("x", "y")
    val fit = LinearOps.olsFit(df, "x", "y").as[(Double, Double)].head()
    assert(math.abs(fit._1 - 3.0) < 1e-9 && math.abs(fit._2 - 7.0) < 1e-9)
  }

  test("olsFitN recovers a noiseless 4-feature plane exactly") {
    // y = 2 + 3a − b + 0.5c + 4d over a spread of integer grid points
    val rows = for (i <- 1 to 8; j <- 1 to 5) yield {
      val (a, b, c, dd) = (i.toDouble, (i * j % 7).toDouble,
        (j * j).toDouble, ((i + j) % 3).toDouble)
      (a, b, c, dd, 2.0 + 3 * a - b + 0.5 * c + 4 * dd)
    }
    val df = rows.toDF("a", "b", "c", "d", "y")
    val fit = LinearOps.olsFitN(df, Seq("a", "b", "c", "d"), "y", roundTo = 6)
      .head()
    val got = (0 to 4).map(fit.getDouble)
    assert(got === Seq(2.0, 3.0, -1.0, 0.5, 4.0), s"betas $got")
    // d out of closed-form range rejects rather than exploding factorially
    intercept[IllegalArgumentException](
      LinearOps.olsFitN(df, Seq.fill(6)("a"), "y"))
  }

  test("assignToCenters picks the nearest center") {
    val pts = Seq((1L, 1, 0.0), (1L, 2, 0.0), (2L, 1, 10.0), (2L, 2, 10.0))
      .toDF("id", "dim", "v")
    val ctr = Seq((0, 1, 1.0), (0, 2, 1.0), (9, 1, 9.0), (9, 2, 9.0))
      .toDF("center", "dim", "c")
    val got = ClusterOps.assignToCenters(pts, ctr, "id", "center")
      .select("id", "center").as[(Long, Int)].collect().toMap
    assert(got(1L) === 0 && got(2L) === 9)
  }

  test("svdProject: projection energy is ordered by component") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val proj = ClusterOps.svdProject(emb, "vec_id", "embedding", k = 3)
    val norms = proj.select(
      sqrt(sum(pow(element_at(col("proj"), 1), 2))).as("n1"),
      sqrt(sum(pow(element_at(col("proj"), 2), 2))).as("n2"),
      sqrt(sum(pow(element_at(col("proj"), 3), 2))).as("n3")).head
    // column norms of X·V_k are the singular values: descending
    assert(norms.getDouble(0) >= norms.getDouble(1))
    assert(norms.getDouble(1) >= norms.getDouble(2))
    assert(proj.count() === emb.count())
  }

  test("fitSvd invariants: orthonormal V, descending sigma, canonical sign") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = ClusterOps.fitSvd(emb, "embedding", k = 5)
    assert(m.d === 64 && m.k === 5)
    // VᵀV = I_k to 1e-9 (right singular vectors are orthonormal)
    for (i <- 0 until m.k; j <- i until m.k) {
      val dot = m.component(i).zip(m.component(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"VᵀV[$i,$j] = $dot")
    }
    // singular values positive and descending
    assert(m.sigma.forall(_ > 0))
    assert(m.sigma.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    // sign canonicalization: the largest-|value| component is positive
    m.v.grouped(m.d).foreach { comp =>
      assert(comp.maxBy(math.abs) > 0, "canonical sign violated")
    }
  }

  test("powerIterationTop agrees with ARPACK fitSvd on the top component") {
    // Two independent algorithms (fixed-round power iteration vs
    // RowMatrix.computeSVD) must land on the same dominant singular
    // vector and value — the strongest cross-check available for C4.
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = ClusterOps.powerIterationTop(emb, "vec_id", "embedding",
        iters = 40)
      .orderBy("dim").collect()
    val v = rows.map(_.getDouble(1))
    val sigma = rows.head.getDouble(2)
    val m = ClusterOps.fitSvd(emb, "embedding", k = 2)
    assert(rows.length === 64)
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-5,
      "unit norm")
    // The sf0.001 spectrum is nearly flat (random-ish vectors), so power
    // iteration converges slowly — assert ALIGNMENT with the ARPACK
    // vector (cosine ≈ 1; both sign-canonicalized) rather than
    // element-wise equality, and sigma to the tolerance the residual
    // misalignment implies, not machine epsilon.
    val cos = v.zip(m.component(0)).map { case (a, b) => a * b }.sum
    assert(cos > 0.995, s"alignment cos=$cos")
    assert(math.abs(sigma - m.sigma(0)) / m.sigma(0) < 1e-2,
      s"sigma $sigma vs ${m.sigma(0)}")
  }

  test("powerIterationComponents: orthogonal components, descending sigma") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = ClusterOps.powerIterationComponents(
        emb, "vec_id", "embedding", k = 2, iters = 40)
      .orderBy("comp", "dim").collect()
    assert(rows.length === 128)
    val v1 = rows.take(64).map(_.getDouble(2))
    val v2 = rows.drop(64).map(_.getDouble(2))
    val s1 = rows.head.getDouble(3)
    val s2 = rows(64).getDouble(3)
    // deflation removes the found eigenpair: the next loop's vector is
    // orthogonal to it, and singular values come out descending
    val cross = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(cross) < 1e-2, s"v1.v2=$cross")
    assert(s1 >= s2, s"sigma order $s1 < $s2")
    assert(math.abs(math.sqrt(v2.map(x => x * x).sum) - 1.0) < 1e-5)
  }

  test("olsFitGrouped: exact per-group lines, degenerate group NULL, one scan") {
    // group a: y = 2x + 1 exactly (r2 = 1); group b: y = -x (r2 = 1);
    // group c: constant x (zero variance -> NULL slope)
    val df = (Seq.tabulate(5)(i => ("a", i.toDouble, 2.0 * i + 1)) ++
      Seq.tabulate(4)(i => ("b", i.toDouble, -i.toDouble)) ++
      Seq(("c", 1.0, 5.0), ("c", 1.0, 7.0)))
      .toDF("g", "x", "y")
    val fits = LinearOps.olsFitGrouped(df, col("g"), col("x"), col("y"))
      .orderBy("grp").collect()
    assert(fits.length === 3)
    val a = fits(0); val b = fits(1); val c = fits(2)
    assert(a.getDouble(2) === 2.0 && a.getDouble(3) === 1.0 &&
      a.getDouble(4) === 1.0)
    assert(b.getDouble(2) === -1.0 && b.getDouble(3) === 0.0)
    assert(c.isNullAt(2) && c.isNullAt(4), "zero x-variance must be NULL")
  }

  test("orthogonalIteration: orthonormal block, agrees with deflation top-2") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = ClusterOps.orthogonalIteration(
        emb, "vec_id", "embedding", k = 2, iters = 40)
      .orderBy("comp", "dim").collect()
    assert(rows.length === 128)
    val v1 = rows.take(64).map(_.getDouble(2))
    val v2 = rows.drop(64).map(_.getDouble(2))
    val s1 = rows.head.getDouble(3)
    val s2 = rows(64).getDouble(3)
    // the Gram-Schmidt step makes the block orthonormal BY CONSTRUCTION
    // every round — tighter invariant than deflation's approximate
    // orthogonality
    val cross = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(cross) < 1e-5, s"v1.v2=$cross")
    assert(math.abs(math.sqrt(v1.map(x => x * x).sum) - 1.0) < 1e-5)
    assert(math.abs(math.sqrt(v2.map(x => x * x).sum) - 1.0) < 1e-5)
    assert(s1 >= s2, s"sigma order $s1 < $s2")
    // two independent algorithms (block subspace iteration vs Hotelling
    // deflation), same spectrum: aligned top-2 subspace at 40 rounds.
    // The sf0.001 spectrum beyond comp 1 is near-flat, so compare the
    // dominant component element-wise-via-cosine and the second by
    // sigma only (its direction inside the near-degenerate tail
    // subspace is algorithm-sensitive; its energy is not).
    val defl = ClusterOps.powerIterationComponents(
        emb, "vec_id", "embedding", k = 2, iters = 40)
      .orderBy("comp", "dim").collect()
    val d1 = defl.take(64).map(_.getDouble(2))
    val cos1 = v1.zip(d1).map { case (a, b) => a * b }.sum
    assert(cos1 > 0.999, s"top-component alignment cos=$cos1")
    val ds2 = defl(64).getDouble(3)
    assert(math.abs(s2 - ds2) / math.max(ds2, 1e-9) < 5e-2,
      s"sigma2 $s2 vs deflation $ds2")
  }

  test("orthogonalIteration k=3: MGS block orthonormal, agrees with deflation") {
    // k=3 is where modified Gram-Schmidt first differs from classical:
    // component 3 re-projects its RESIDUAL onto q2. The block must
    // still be orthonormal by construction, sigmas ordered, and the
    // dominant component/energies must agree with the independent
    // Hotelling-deflation algorithm (directions in the near-flat tail
    // subspace are algorithm-sensitive; energies are not).
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = ClusterOps.orthogonalIteration(
        emb, "vec_id", "embedding", k = 3, iters = 40)
      .orderBy("comp", "dim").collect()
    assert(rows.length === 192)
    val vs = (0 until 3).map(c => rows.slice(c * 64, (c + 1) * 64)
      .map(_.getDouble(2)))
    val sig = (0 until 3).map(c => rows(c * 64).getDouble(3))
    for (a <- 0 until 3; b <- a until 3) {
      val dot = vs(a).zip(vs(b)).map { case (x, y) => x * y }.sum
      if (a == b) assert(math.abs(dot - 1.0) < 1e-5, s"norm q${a + 1}=$dot")
      else assert(math.abs(dot) < 1e-5, s"q${a + 1}.q${b + 1}=$dot")
    }
    assert(sig(0) >= sig(1) && sig(1) >= sig(2), s"sigma order $sig")
    val defl = ClusterOps.powerIterationComponents(
        emb, "vec_id", "embedding", k = 3, iters = 40)
      .orderBy("comp", "dim").collect()
    val d1 = defl.take(64).map(_.getDouble(2))
    val cos1 = vs(0).zip(d1).map { case (a, b) => a * b }.sum
    assert(cos1 > 0.999, s"top-component alignment cos=$cos1")
    for (c <- 1 until 3) {
      val ds = defl(c * 64).getDouble(3)
      assert(math.abs(sig(c) - ds) / math.max(ds, 1e-9) < 5e-2,
        s"sigma${c + 1} ${sig(c)} vs deflation $ds")
    }
  }

  test("svdProject invariants: norm contraction and decreasing reconstruction error") {
    val emb = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val total = emb
      .select(expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * x)").as("sq"))
      .agg(sum(col("sq"))).head.getDouble(0)
    // projection onto an orthonormal basis never gains energy per row...
    val proj5 = ClusterOps.svdProject(emb, "vec_id", "embedding", k = 5)
      .select(col("vec_id"), expr("aggregate(proj, 0D, (acc, x) -> acc + x * x)").as("psq"))
    val joined = emb
      .select(col("vec_id"),
        expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * x)").as("xsq"))
      .join(proj5, "vec_id")
    assert(joined.where(col("psq") > col("xsq") * (1 + 1e-9)).count() === 0)
    // ...and the Frobenius reconstruction error ||X − X·V_k·V_kᵀ||² =
    // ||X||² − Σ_j ||X·v_j||² strictly decreases as k grows
    val errs = Seq(1, 3, 5).map { k =>
      val captured = ClusterOps.svdProject(emb, "vec_id", "embedding", k)
        .select(expr("aggregate(proj, 0D, (acc, x) -> acc + x * x)").as("psq"))
        .agg(sum(col("psq"))).head.getDouble(0)
      total - captured
    }
    assert(errs.forall(e => e >= -1e-6 && e <= total))
    assert(errs.sliding(2).forall(p => p(1) < p(0)), s"errors not decreasing: $errs")
  }

  test("reference invariant: per-block NB stats merged == global fit") {
    // the reference's central property (splearn tests): fit per block,
    // merge sufficient statistics by summation, recompute — must equal
    // the single global fit exactly.
    val toks = Seq.tabulate(200)(i =>
      (i % 7, if (i % 3 == 0) "pos" else "neg", s"w${i % 11}"))
      .toDF("block_id", "cls", "term")
    val mergedCounts = toks.groupBy("block_id", "cls", "term").count()
      .groupBy("cls", "term").agg(sum("count").as("cnt"))
      .as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val fit = NaiveBayesOps.multinomialFit(toks.drop("block_id"), "cls", "term")
      .select("cls", "term", "cnt", "log_prob")
      .as[(String, String, Long, Double)].collect()
    val vocab = fit.map(_._2).distinct.length
    val classTotals = fit.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    fit.foreach { case (cls, term, cnt, lp) =>
      assert(cnt === mergedCounts.getOrElse((cls, term), 0L),
        s"merged counts diverge at ($cls,$term)")
      val expected = math.log((cnt + 1.0) / (classTotals(cls) + 1.0 * vocab))
      assert(math.abs(lp - expected) < 5e-7, s"log-prob at ($cls,$term)")
    }
  }

  test("anovaF / oneHot / quantileTransform semantics and degenerate cases") {
    import graft.stats.Moments
    // two cleanly separated classes: between-group variance dominates
    val sep = Seq(("a", 1.0), ("a", 1.1), ("b", 9.0), ("b", 9.1))
      .toDF("y", "x")
    val f = Moments.anovaF(sep, "y", Seq("x")).head.getDouble(1)
    assert(f > 1000, s"separated classes should give huge F, got $f")
    // identical class means: F ~ 0
    val same = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("y", "x")
    assert(math.abs(Moments.anovaF(same, "y", Seq("x")).head.getDouble(1)) < 1e-9)
    // single class: k-1 = 0 -> NULL, not a crash
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("y", "x")
    assert(Moments.anovaF(one, "y", Seq("x")).head.isNullAt(1))
    // one-hot: unknown category encodes all-zeros
    val oh = Moments.oneHot(Seq("click", "weird").toDF("t"), "t",
      Seq("click", "view"), "is").orderBy("t").collect()
    assert(oh(0).getInt(1) === 1 && oh(0).getInt(2) === 0)
    assert(oh(1).getInt(1) === 0 && oh(1).getInt(2) === 0)
    // quantile transform: min -> 0, max -> 1, monotone
    val qt = Moments.quantileTransform(
      Seq(5.0, 1.0, 3.0).toDF("v"), "v", Seq(), "q")
      .orderBy("v").select("q").as[Double].collect()
    assert(qt.toSeq === Seq(0.0, 0.5, 1.0))
  }

  test("preprocessing edge cases: degenerate inputs are NULL, not garbage") {
    import graft.stats.Moments
    // constant column: min = max -> scale denominator 0 -> NULL (Spark
    // non-ANSI x/0), never an exception or Infinity
    val const = Seq(1, 2, 3).toDF("id").withColumn("v", lit(5.0))
    val mm = Moments.minMaxScale(const, "v", "out").select("out").collect()
    assert(mm.forall(_.isNullAt(0)))
    // all-zero row: L2 norm 0 -> NULL normalized values
    val zero = Seq((0.0, 0.0), (3.0, 4.0)).toDF("a", "b")
    val nz = Moments.normalizeRows(zero, Seq("a", "b"))
      .orderBy("a").select("n_a", "n_b").collect()
    assert(nz(0).isNullAt(0) && nz(0).isNullAt(1))
    assert(nz(1).getDouble(0) === 0.6 && nz(1).getDouble(1) === 0.8)
    // label encoder: dense 0-based ids in sort order
    val le = Moments.labelEncode(
        Seq("b", "a", "c", "a").toDF("cls"), "cls")
      .as[(String, Long)].collect().toMap
    assert(le === Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // imputer: nulls -> non-null mean, non-nulls untouched
    val holes = Seq(Some(2.0), None, Some(4.0)).toDF("v")
    val filled = Moments.imputeMean(holes, "v", "f")
      .select("f").as[Double].collect().sorted
    assert(filled.toSeq === Seq(2.0, 3.0, 4.0))
    // kbins: 4 equal-population bins over 8 distinct values
    val bins = Moments.kBinsDiscretize(
        spark.range(8).toDF("id"), "id", 4, Seq(col("id")), "bin")
      .groupBy("bin").count().as[(Int, Long)].collect().toMap
    assert(bins === Map(1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L))
  }

  test("chi2Terms: hand-computed 2-class contingency, off-list class ignored") {
    import graft.stats.Chi2
    // 'x': 4 in A, 0 in B; 'y': 2 in A, 2 in B. Totals: A=6, B=2, n=8.
    val docs = Seq(
      ("A", "x x y"), ("A", "x x y"), ("B", "y y"),
      ("C", "x x x x x x")  // off-list -> ignored entirely
    ).toDF("cls", "text")
    val r = Chi2.chi2Terms(docs, col("cls"), col("text"), Seq("A", "B"),
        roundTo = 6)
      .orderBy("term").collect()
    // x: E_A = 4*6/8 = 3, E_B = 1 -> (4-3)^2/3 + (0-1)^2/1 = 4/3
    assert(r(0).getString(0) === "x" && r(0).getLong(1) === 4L)
    assert(r(0).getDouble(2) === 1.333333)
    // y: E_A = 3, E_B = 1 -> 1/3 + 1 = 4/3
    assert(r(1).getString(0) === "y" && r(1).getLong(1) === 4L)
    assert(r(1).getDouble(2) === 1.333333)
  }

  test("ml variance selector and scaler agree with the relational ops") {
    import graft.stats.Moments
    val df = Seq((1.0, 100.0), (2.0, 100.0), (3.0, 100.0))
      .toDF("varies", "constant")
    // constant column (var 0) dropped at threshold 0.5
    val sel = Moments.mlVarianceSelector(df, Seq("varies", "constant"), 0.5)
      .select("selected").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(sel.size === 1 && sel(0) === 1.0)
    val scaled = Moments.mlStandardScale(df, Seq("varies"))
      .select("scaled").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0)(0))
    // ml StandardScaler uses SAMPLE stddev (n-1): values ±1, 0
    assert(math.abs(scaled(0) + 1.0) < 1e-9 && math.abs(scaled(1)) < 1e-9)
  }

  test("gramian is symmetric-diagonal consistent (upper triangle)") {
    val emb = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val g = ClusterOps.gramian(emb, "vec_id", "embedding", 2)
      .as[(Int, Int, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    assert(g((1, 1)) === 10.0) // 1+9
    assert(g((1, 2)) === 14.0) // 2+12
    assert(g((2, 2)) === 20.0) // 4+16
  }

  test("olsFitWeighted: ones == unweighted; integer weights == replicated rows") {
    val df = Seq((1.0, 2.1, 1.0), (2.0, 3.9, 2.0), (3.0, 6.2, 3.0),
      (4.0, 7.8, 1.0), (5.0, 10.1, 2.0)).toDF("x", "y", "w")
    val unweighted = LinearOps.olsFit(df, "x", "y")
      .as[(Double, Double)].head()
    val ones = LinearOps.olsFitWeighted(df.withColumn("w1", lit(1.0)),
      "x", "y", "w1", roundTo = 6).as[(Double, Double)].head()
    assert(math.abs(ones._1 - unweighted._1) < 1e-5 &&
      math.abs(ones._2 - unweighted._2) < 1e-5)
    // integer weights == the fit on a row-replicated corpus
    val replicated = df.withColumn("_i",
        explode(sequence(lit(1), col("w").cast("int"))))
    val wFit = LinearOps.olsFitWeighted(df, "x", "y", "w", roundTo = 6)
      .as[(Double, Double)].head()
    val rFit = LinearOps.olsFit(replicated, "x", "y")
      .as[(Double, Double)].head()
    assert(math.abs(wFit._1 - rFit._1) < 1e-5 &&
      math.abs(wFit._2 - rFit._2) < 1e-5)
  }

  test("Eval: classification report margins and tie-aware exact AUC") {
    import graft.mlops.Eval
    // labels a,a,a,b,b; preds a,b,a,b,a -> class a: tp=2 npred=3 sup=3;
    // class b: tp=1 npred=2 sup=2
    val d = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "a"))
      .toDF("label", "pred")
    val rep = Eval.classificationReport(d, "label", "pred")
      .orderBy("cls").collect()
    assert(rep.map(_.getAs[Long]("tp")).toSeq == Seq(2L, 1L))
    assert(math.abs(rep(0).getAs[Double]("precision") - 2.0 / 3) < 1e-5)
    assert(math.abs(rep(1).getAs[Double]("recall") - 0.5) < 1e-5)
    // scores: pos {0.9, 0.5}, neg {0.5, 0.1}. Pairs: (0.9>0.5), (0.9>0.1),
    // (0.5=0.5 -> 0.5), (0.5>0.1) => AUC = 3.5/4 = 0.875
    val s = Seq((0.9, 1), (0.5, 1), (0.5, 0), (0.1, 0)).toDF("s", "y")
    val auc = Eval.aucExact(s, "s", "y").head()
    assert(math.abs(auc.getAs[Double]("auc") - 0.875) < 1e-9)
    assert(auc.getAs[Long]("npos") == 2L && auc.getAs[Long]("nneg") == 2L)
    // degenerate: single-class input -> NULL auc, not a crash
    val one = Seq((0.9, 1), (0.5, 1)).toDF("s", "y")
    assert(Eval.aucExact(one, "s", "y").head().isNullAt(0))
  }

  test("Eval: regression report hand values and conventions") {
    import graft.mlops.Eval
    // a = (2, 4, 0), p = (3, 2, 1): e = (1, -2, 1)
    // mae = 4/3, rmse = sqrt(2), mape over a!=0 = (1/2 + 2/4)/2 = 0.5
    // var_pop(a) = 8/3 - 4 = ... mean 2, var = (0+4+4)/3 = 8/3
    // r2 = 1 - (6/3)/(8/3) = 0.25
    val d = Seq((2.0, 3.0), (4.0, 2.0), (0.0, 1.0)).toDF("a", "p")
    val r = graft.mlops.Eval.regressionReport(d, "a", "p").head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("mape_n") == 2L)
    assert(math.abs(r.getAs[Double]("mae") - 4.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("rmse") - math.sqrt(2)) < 1e-6)
    assert(math.abs(r.getAs[Double]("mape") - 0.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("r2") - 0.25) < 1e-6)
    // zero-variance target -> r2 = 0.0, not NULL/-inf
    val z = Seq((5.0, 4.0), (5.0, 6.0)).toDF("a", "p")
    assert(Eval.regressionReport(z, "a", "p").head()
      .getAs[Double]("r2") == 0.0)
  }

  test("Eval: Cohen's kappa and ranking metrics on hand fixtures") {
    import graft.mlops.Eval
    // 2x2: agree on 6 of 10; marginals a: 7/3, b: 5/5
    // po=0.6, pe=(7*5+3*5)/100=0.5, kappa=0.2
    val d = (Seq.fill(4)(("x", "x")) ++ Seq.fill(2)(("y", "y")) ++
      Seq.fill(3)(("x", "y")) ++ Seq(("y", "x"))).toDF("a1", "a2")
    val k = Eval.cohensKappa(d, "a1", "a2").head()
    assert(math.abs(k.getAs[Double]("po") - 0.6) < 1e-9)
    assert(math.abs(k.getAs[Double]("pe") - 0.5) < 1e-9)
    assert(math.abs(k.getAs[Double]("kappa") - 0.2) < 1e-9)
    // perfect agreement, single class: pe=1 convention -> kappa=1
    val p = Seq(("x", "x"), ("x", "x")).toDF("a1", "a2")
    assert(Eval.cohensKappa(p, "a1", "a2").head()
      .getAs[Double]("kappa") == 1.0)
    // ranking: q0 rel at ranks 2,4 of 5 relevant... n_rel=2, k=3:
    // recall@3=1/2, mrr=1/2, dcg=1/log2(3), idcg=1+1/log2(3)
    val r = Seq((0, 1, 0), (0, 2, 1), (0, 3, 0), (0, 4, 1), (0, 5, 0),
      (1, 1, 0), (1, 2, 0)).toDF("q", "rank", "rel")
    val m = Eval.rankingMetrics(r, "q", "rank", "rel", k = 3)
      .orderBy("q").collect()
    assert(math.abs(m(0).getAs[Double]("recall_k") - 0.5) < 1e-6)
    assert(math.abs(m(0).getAs[Double]("mrr") - 0.5) < 1e-6)
    val dcg = 1.0 / (math.log(3) / math.log(2))
    val idcg = 1.0 + 1.0 / (math.log(3) / math.log(2))
    assert(math.abs(m(0).getAs[Double]("ndcg_k") - dcg / idcg) < 1e-6)
    // zero-relevant query reports zeros
    assert(m(1).getAs[Double]("recall_k") == 0.0 &&
      m(1).getAs[Double]("mrr") == 0.0 &&
      m(1).getAs[Double]("ndcg_k") == 0.0)
  }

  test("standardScaleWeighted: ones == unweighted; integer weights == replication") {
    val df = Seq((1L, 2.5, 1), (2L, 4.0, 2), (3L, 7.5, 3),
      (4L, 1.0, 1), (5L, 9.0, 2)).toDF("id", "v", "w")
    val un = graft.stats.Moments.standardScale(df, "v", "z")
      .select("id", "z").as[(Long, Double)].collect().toMap
    val ones = graft.stats.Moments.standardScaleWeighted(
        df.withColumn("w1", lit(1)), "v", "w1", "z")
      .select("id", "z").as[(Long, Double)].collect().toMap
    un.foreach { case (id, z) => assert(math.abs(ones(id) - z) < 1e-5) }
    // integer weights == moments of the row-replicated corpus
    val replicated = df.withColumn("_i",
      explode(sequence(lit(1), col("w"))))
    val repl = graft.stats.Moments.standardScale(replicated, "v", "z")
      .select("id", "z").distinct().as[(Long, Double)].collect().toMap
    val wScaled = graft.stats.Moments.standardScaleWeighted(df, "v", "w", "z")
      .select("id", "z").as[(Long, Double)].collect().toMap
    repl.foreach { case (id, z) => assert(math.abs(wScaled(id) - z) < 1e-5) }
  }

  test("multinomialFitWeighted: ones == unweighted; integer weights == replication") {
    val toks = Seq(("pos", "good", 2.0), ("pos", "bad", 1.0),
      ("neg", "bad", 3.0), ("neg", "good", 1.0)).toDF("cls", "term", "w")
    val ones = NaiveBayesOps.multinomialFitWeighted(
        toks.withColumn("w1", lit(1.0)), "cls", "term", "w1")
      .select("cls", "term", "log_prob").as[(String, String, Double)]
      .collect().map(t => ((t._1, t._2), t._3)).toMap
    val plain = NaiveBayesOps.multinomialFit(toks, "cls", "term")
      .select("cls", "term", "log_prob").as[(String, String, Double)]
      .collect().map(t => ((t._1, t._2), t._3)).toMap
    assert(ones.keySet === plain.keySet)
    ones.foreach { case (k, v) => assert(math.abs(v - plain(k)) < 1e-9) }
    val repl = toks.withColumn("_i",
      explode(sequence(lit(1), col("w").cast("int"))))
    val wFit = NaiveBayesOps.multinomialFitWeighted(toks, "cls", "term", "w")
      .select("cls", "term", "log_prob").as[(String, String, Double)]
      .collect().map(t => ((t._1, t._2), t._3)).toMap
    val rFit = NaiveBayesOps.multinomialFit(repl, "cls", "term")
      .select("cls", "term", "log_prob").as[(String, String, Double)]
      .collect().map(t => ((t._1, t._2), t._3)).toMap
    wFit.foreach { case (k, v) => assert(math.abs(v - rFit(k)) < 1e-9) }
  }

  test("logisticGdOvr + predict recovers a separable 3-class fixture") {
    val pts = Seq(
      (1L, 1, 5.0), (1L, 2, 0.2), (2L, 1, 4.5), (2L, 2, -0.1),
      (3L, 1, 0.1), (3L, 2, 5.0), (4L, 1, -0.2), (4L, 2, 4.8),
      (5L, 1, -5.0), (5L, 2, -4.8), (6L, 1, -4.6), (6L, 2, -5.1))
      .toDF("id", "dim", "v")
    val labels = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1), (5L, 2), (6L, 2))
      .toDF("id", "y")
    val w = LinearOps.logisticGdOvr(pts, labels, "id", "y",
      iters = 5, lr = 0.5)
    assert(w.count() === 6) // 3 classes x 2 dims
    val preds = LinearOps.logisticOvrPredict(pts, w, "id")
      .select("id", "pred").as[(Long, Int)].collect().toMap
    val truth = Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 2, 6L -> 2)
    assert(preds === truth)
  }

  test("topTermsPerFold two-phase == single global window on a tie-heavy fixture") {
    // 400 terms across 2 folds, counts drawn from only 4 distinct values
    // so nearly every rank decision is a term-name tiebreak — the case
    // where a pre-aggregation that dropped a tied term would diverge.
    val rows = for {
      fold <- 0 to 1
      i <- 0 until 400
    } yield (fold, f"t$i%03d", (i % 4 + 1).toLong)
    val df = rows.toDF("fold", "term", "_train")
    val cap = 25
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fold")).orderBy(col("_train").desc, col("term"))
    val naive = df.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= cap)
      .select("fold", "term", "_train", "_rk")
      .as[(Int, String, Long, Int)].collect().sortBy(r => (r._1, r._4))
    for (salts <- Seq(1, 4, 32, 128)) {
      val two = graft.mlops.Composition.topTermsPerFold(df, cap, salts)
        .select("fold", "term", "_train", "_rk")
        .as[(Int, String, Long, Int)].collect().sortBy(r => (r._1, r._4))
      assert(two.toSeq === naive.toSeq, s"salts=$salts diverged")
    }
  }

  test("calibrationBins clamps both edges: out-of-range scores land " +
      "in the edge bins, never in negative/overflow bin ids") {
    import org.apache.spark.sql.functions.col
    val d = Seq((-0.2, 0), (0.05, 0), (0.95, 1), (1.3, 1))
      .toDF("score", "label")
    val bins = graft.mlops.Eval.calibrationBins(d, "score", "label", 10)
      .orderBy(col("bin"))
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(bins.map(_._1) === Seq(0L, 9L))
    assert(bins.map(_._2) === Seq(2L, 2L)) // -0.2 joins bin 0; 1.3 bin 9
  }

  test("multinomialPredictFromModel guards degenerate n_docs=0 class: " +
      "scores stay non-NULL and the argmax ignores the empty class") {
    import org.apache.spark.sql.functions.col
    val toks = Seq((1L, "a", "x"), (1L, "a", "y"), (2L, "b", "x"))
      .toDF("doc_id", "lang", "term")
    val fit = graft.mlops.NaiveBayesOps.multinomialFit(
      toks.select(col("lang"), col("term")), "lang", "term")
    // a third class present in the prior table with zero mass
    val priors = Seq(("a", 1L), ("b", 1L), ("ghost", 0L))
      .toDF("lang", "n_docs")
    // give the ghost class model rows too, so only the prior guards it
    val ghost = fit.where(col("lang") === "a")
      .withColumn("lang", org.apache.spark.sql.functions.lit("ghost"))
    val preds = graft.mlops.NaiveBayesOps.multinomialPredictFromModel(
        toks.select(col("doc_id"), col("term")), "doc_id", "term",
        fit.unionByName(ghost), "lang", priors)
      .as[(Long, String)].collect().toMap
    assert(preds.size === 2)
    assert(!preds.values.exists(_ == "ghost"))
  }

  // Both NB entry points pick a doc's class by highest score, ties to the
  // lexicographically first class, a null score below every non-null one.
  private def predictBoth(toks: org.apache.spark.sql.DataFrame,
                          classDocs: org.apache.spark.sql.DataFrame,
                          model: org.apache.spark.sql.DataFrame,
                          classDocCounts: org.apache.spark.sql.DataFrame,
                          alpha: Double): Seq[Map[Long, String]] =
    Seq(NaiveBayesOps.multinomialPredict(toks, "doc_id", "term", classDocs,
        "cls", alpha),
      NaiveBayesOps.multinomialPredictFromModel(toks, "doc_id", "term",
        model, "cls", classDocCounts))
      .map(_.as[(Long, String)].collect().toMap)

  test("NB argmax: an exact score tie goes to the first class by name") {
    // "b" and "a" have identical counts and priors: every score ties
    val docs = Seq((1L, "b", "p q"), (2L, "a", "q p"))
      .toDF("doc_id", "cls", "text")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val model = Seq(("b", "p", -0.5), ("b", "q", -0.5), ("a", "p", -0.5),
      ("a", "q", -0.5)).toDF("cls", "term", "log_prob")
    val counts = Seq(("b", 1L), ("a", 1L)).toDF("cls", "n_docs")
    for (pred <- predictBoth(toks, docs.select("doc_id", "cls"), model,
        counts, alpha = 1.0))
      assert(pred === Map(1L -> "a", 2L -> "a"))
  }

  test("NB argmax: a null score ranks below every non-null score") {
    // alpha = 0: a term the class never saw has log(0) = null, so each
    // doc's other class scores null; "a" sorts first by name but must
    // lose doc 2
    val docs = Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("doc_id", "cls", "text")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val model = Seq[(String, String, Option[Double])](("a", "x", Some(0.0)),
      ("a", "y", None), ("b", "x", None), ("b", "y", Some(0.0)))
      .toDF("cls", "term", "log_prob")
    val counts = Seq(("a", 1L), ("b", 1L)).toDF("cls", "n_docs")
    for (pred <- predictBoth(toks, docs.select("doc_id", "cls"), model,
        counts, alpha = 0.0))
      assert(pred === Map(1L -> "a", 2L -> "b"))
  }

  test("cvNbPipelineGrid: one-fold class, all-OOV held-out doc, " +
      "accuracy ties broken by cap then alpha") {
    // md5 2-fold split of the ids: 1 3 6 9 10 13 16 -> fold 0,
    // 2 4 5 7 8 -> fold 1. Class z lives only in fold 0, so with fold 0
    // held out its training prior is the -1e9 guard and z is never
    // predicted. Doc 8 ("qqq", fold 1) has no in-vocabulary token: it is
    // predicted on priors alone (b, 3 of 7 training docs) and counted.
    val docs = Seq((1L, "zebra", "z"), (3L, "zebra", "z"),
      (6L, "apple", "a"), (9L, "apple", "a"), (2L, "apple", "a"),
      (4L, "apple", "a"), (10L, "banana", "b"), (13L, "banana", "b"),
      (16L, "banana", "b"), (5L, "banana", "b"), (7L, "banana", "b"),
      (8L, "qqq", "b")).toDF("doc_id", "text", "lang")
    val grid = graft.mlops.Composition.cvNbPipelineGrid(docs, "doc_id",
        "text", "lang", caps = Seq(1, 2, 3), alphas = Seq(0.5, 1.0), k = 2)
      .orderBy("vocab_cap", "alpha")
      .as[(Int, Double, Double, Int)].collect().toSeq
    // cap 1 keeps one term per fold (apple / banana): 3 of 7 + 3 of 5;
    // caps 2 and 3 miss only the z docs and tie at 10 of 12, so the
    // smaller cap and then the smaller alpha is chosen
    assert(grid === Seq((1, 0.5, 0.5, 0), (1, 1.0, 0.5, 0),
      (2, 0.5, 0.8333, 1), (2, 1.0, 0.8333, 0),
      (3, 0.5, 0.8333, 0), (3, 1.0, 0.8333, 0)))
    // no docs, no grid rows
    assert(graft.mlops.Composition.cvNbPipelineGrid(docs.limit(0), "doc_id",
      "text", "lang", caps = Seq(1), alphas = Seq(1.0)).count() === 0)
  }
}
