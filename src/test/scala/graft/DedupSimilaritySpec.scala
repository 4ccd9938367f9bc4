package graft

import graft.dedup.Dedup
import graft.similarity.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "a b c d e f"),
    (1L, "a b c d e f"),          // exact dup of 0
    (2L, "a b c d e g"),          // near dup
    (3L, "x y z w q r")           // unrelated
  ).toDF("doc_id", "text")

  test("shingles: distinct word trigrams, short docs dropped") {
    val sh = Dedup.shingles(Seq((0L, "a b c d"), (1L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text")
    val got = sh.as[(Long, String)].collect().toSet
    assert(got === Set((0L, "a b c"), (0L, "b c d")))
  }

  test("exactStats counts duplicate texts once") {
    val r = Dedup.exactStats(docs, "text").head
    assert(r.getLong(0) === 4 && r.getLong(1) === 3)
  }

  test("dropExactDuplicates keeps the min-id survivor") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 2L, 3L))
  }

  test("inRowSignature is bit-identical to aggregated minhashSignatures") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val agg = Dedup.minhashSignatures(
        Dedup.shingles(corpus, "doc_id", "text"), "doc_id")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val inRow = Dedup.inRowSignature(corpus, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(inRow.keySet === agg.keySet)
    inRow.foreach { case (id, sig) => assert(sig === agg(id), s"doc $id") }
  }

  test("fusedSignatures is bit-identical to separate minhash + simhash passes") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    val fused = Dedup.fusedSignatures(sh, "doc_id", numHashes = 8, bits = 60)
      .as[(Long, Seq[Long], Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val minAgg = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val simAgg = Dedup.simhash(sh, "doc_id", bits = 60)
      .as[(Long, Long)].collect().toMap
    assert(fused.keySet === minAgg.keySet)
    fused.foreach { case (id, (sig, sh60)) =>
      assert(sig === minAgg(id), s"minhash doc $id")
      assert(sh60 === simAgg(id), s"simhash doc $id")
    }
  }

  test("facade fused family matches the single-detector derivations") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fused = Dedup.corpusSignatures(corpus, "doc_id", "text")
      .localCheckpoint()
    val candF = Dedup.minhashCandidatesFromSignatures(fused, "doc_id")
      .as[(Long, Long)].collect().toSet
    val candDirect = Dedup.minhashBandCandidates(
        Dedup.minhashSignatures(
          Dedup.shingles(corpus, "doc_id", "text"), "doc_id"), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(candF === candDirect)
    val idxF = Dedup.bandIndexFromSignatures(fused, "doc_id")
      .as[(Int, String)].collect().toSet
    val idxDirect = Dedup.nearDupIndex(corpus, "doc_id", "text")
      .as[(Int, String)].collect().toSet
    assert(idxF === idxDirect)
    val simF = Dedup.simhashPairsFromSignatures(fused, "doc_id")
      .as[(Long, Long, Int)].collect().toSet
    val simDirect = Dedup.simhashNearDuplicates(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(simF === simDirect)
  }

  test("winnowing: shared >= w+k-1 token run guarantees a shared fingerprint") {
    val shared = "q w e r t y u" // 7 tokens = w + k - 1 with k=4, w=4
    val docsW = Seq(
      (1L, s"a b c $shared d e f"),
      (2L, s"z x $shared v n m"),
      (3L, "completely different words here nothing matches at all")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docsW, "doc_id", "text", k = 4, w = 4)
    val f1 = fp.where(col("doc_id") === 1).select("fp").as[Long].collect().toSet
    val f2 = fp.where(col("doc_id") === 2).select("fp").as[Long].collect().toSet
    val f3 = fp.where(col("doc_id") === 3).select("fp").as[Long].collect().toSet
    assert((f1 intersect f2).nonEmpty)   // the guarantee
    assert((f1 intersect f3).isEmpty && (f2 intersect f3).isEmpty)
    val cand = Dedup.winnowCandidates(fp, "doc_id", minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand === Set((1L, 2L)))
  }

  test("winnowing: too-short docs are dropped, no fingerprint rows") {
    val docsW = Seq((1L, "a b c d e f")).toDF("doc_id", "text") // 6 < k+w-1
    assert(Dedup.winnowFingerprints(docsW, "doc_id", "text", 4, 4).count() === 0L)
  }

  test("nearDupAgainstIndex flags colliding incoming docs (batch twin)") {
    val index = Dedup.bandSignatures(
        Dedup.minhashSignatures(Dedup.shingles(docs, "doc_id", "text"),
          "doc_id"), "doc_id")
      .select("band", "band_sig").distinct()
    val incoming = Seq(
      (100L, "a b c d e f"),      // exact text of doc 0 -> every band collides
      (101L, "p q r s t u v")     // novel -> no collision
    ).toDF("doc_id", "text")
    val flagged = Dedup.nearDupAgainstIndex(incoming, index, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(flagged === Set(100L))
  }

  test("nearDupPairsAgainstIndex: provenance pairs with band counts, flag-consistent") {
    val index = Dedup.bandSignatures(
      Dedup.minhashSignatures(Dedup.shingles(docs, "doc_id", "text"),
        "doc_id"), "doc_id")
    val incoming = Seq(
      (100L, "a b c d e f"),      // exact text of docs 0 AND 1 (dups)
      (101L, "p q r s t u v")     // novel -> no collision
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairsAgainstIndex(incoming, index,
        "doc_id", "text", indexIdCol = "doc_id")
      .as[(Long, Long, Long)].collect()
    // identical text agrees on ALL 4 bands against every exact copy;
    // the near-dup doc 2 may collide on a strict subset of bands —
    // n_shared_bands is the confidence gradient, never above 4
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((100L, 0L)) === 4L && byPair((100L, 1L)) === 4L)
    assert(pairs.forall(p => p._3 >= 1L && p._3 <= 4L))
    assert(byPair.get((100L, 2L)).forall(_ < 4L))
    // the novel doc collides with nothing
    assert(pairs.forall(_._1 === 100L))
    // the pair set's new_ids are exactly the flag operator's output
    val flagged = Dedup.nearDupAgainstIndex(incoming,
        index.select("band", "band_sig").distinct(), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(pairs.map(_._1).toSet === flagged)
  }

  test("ppJoinPairs: exact recall vs brute force at every threshold") {
    // varied overlap structure incl. docs sharing only common shingles
    val corpus = Seq(
      (0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "a b c d e f x y"), (3L, "a b c q r s t u"),
      (4L, "m n o p q r s t"), (5L, "z z2 z3 z4 a b c d")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(corpus, "doc_id", "text")
    for (t <- Seq(0.1, 0.3, 0.6, 0.9)) {
      val pp = Dedup.ppJoinPairs(sh, "doc_id", t)
        .as[(Long, Long, Double)].collect().toSet
      val bf = Dedup.jaccardPairs(sh, "doc_id", t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pp === bf, s"threshold $t: prefix filter diverged from brute force")
    }
    // exact dup pair present at the top threshold
    assert(Dedup.ppJoinPairs(sh, "doc_id", 0.99)
      .as[(Long, Long, Double)].collect().toSet === Set((0L, 1L, 1.0)))
  }

  test("tuneBands: chosen config brackets the target; tuned wiring = manual") {
    val curve = Dedup.tuneBands(spark, 16, 0.8, 0.2, 0.05)
      .as[(Int, Int, Double, Double, Boolean)].collect()
    assert(curve.length === 16)
    val chosen = curve.filter(_._5)
    assert(chosen.length === 1, "exactly one config is chosen")
    val (r, b, pt, pfp, _) = chosen.head
    assert((r, b) === ((3, 5)), s"16 hashes at t=0.8 solve to r=3,b=5")
    assert(pt > 0.9, s"catch probability at the target is high: $pt")
    assert(pfp <= 0.05, s"the chosen config meets the fp budget: $pfp")
    // bracketing: the curve's steep midpoint (1/b)^(1/r) lies strictly
    // between the fp point and the target threshold
    val mid = math.pow(1.0 / b, 1.0 / r)
    assert(mid > 0.2 && mid < 0.8, s"midpoint $mid outside (fp, target)")
    // monotone S-curve sanity at the chosen config
    def p(j: Double) = 1.0 - math.pow(1.0 - math.pow(j, r), b)
    assert(p(0.2) < p(0.5) && p(0.5) < p(0.8) && p(0.8) < p(0.95))
    // wiring: the tuned candidate path equals the manual path at the
    // solved (b, r) restricted to full bands
    val corpus = Seq(
      (0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "a b c d e f x y"), (3L, "m n o p q r s t")
    ).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(
      Dedup.shingles(corpus, "doc_id", "text"), "doc_id", numHashes = 8)
      .localCheckpoint()
    assert(Dedup.tunedBandConfig(8, 0.8) === ((2, 3)))
    val tuned = Dedup
      .minhashBandCandidatesTuned(sig, "doc_id", 8, 0.8)
      .as[(Long, Long)].collect().toSet
    val manual = Dedup
      .minhashBandCandidates(sig.where(col("h") < 6), "doc_id",
        rowsPerBand = 3)
      .as[(Long, Long)].collect().toSet
    assert(tuned === manual)
    assert(tuned.contains((0L, 1L)), "exact dups must collide")
  }

  test("ppJoinPairs: FP-integer bound keeps the exact J == t boundary pair") {
    // t=0.4, |A|=3, |B|=4, overlap exactly 2: required overlap
    // t/(1+t)·7 = 2 exactly, but the double product lands at
    // 2.0000000000000004 — an un-epsiloned ceil reads 3 and drops the
    // pair (its best positional bound is exactly 2: the shared tokens
    // are globally COMMON, df-ordered to the back of both docs).
    val sh = Seq(
      (0L, "u0"), (0L, "sh_a"), (0L, "sh_b"),
      (1L, "u1"), (1L, "u2"), (1L, "sh_a"), (1L, "sh_b")
    ).toDF("doc_id", "shingle")
    val pp = Dedup.ppJoinPairs(sh, "doc_id", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp === Set((0L, 1L, 0.4)),
      "boundary pair with J exactly == t must survive the prefix filter")
    val bf = Dedup.jaccardPairs(sh, "doc_id", 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pp === bf)
  }

  test("ppJoinPairs: duplicate (id, shingle) rows keep set-Jaccard semantics") {
    // the public contract takes ANY shingleDf; a repeated row must not
    // double-count in the sorted-merge overlap (collect_set guards it)
    val distinctSh = Seq(
      (0L, "a"), (0L, "b"), (0L, "c"),
      (1L, "a"), (1L, "b"), (1L, "d"), (1L, "e")
    ).toDF("doc_id", "shingle")
    val dupSh = distinctSh.union(
      Seq((0L, "a"), (1L, "b"), (1L, "b")).toDF("doc_id", "shingle"))
    val clean = Dedup.ppJoinPairs(distinctSh, "doc_id", 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val noisy = Dedup.ppJoinPairs(dupSh, "doc_id", 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(clean === noisy, "row multiplicity must not change Jaccard")
    assert(clean.map(p => (p._1, p._2)) === Set((0L, 1L)))
    assert(clean.head._3 === 2.0 / 5.0)
  }

  test("mergeBandIndex: incremental build equals from-scratch rebuild") {
    def fullIndex(d: org.apache.spark.sql.DataFrame) =
      Dedup.bandSignatures(
        Dedup.minhashSignatures(Dedup.shingles(d, "doc_id", "text"),
          "doc_id"), "doc_id")
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val merged = Dedup.mergeBandIndex(fullIndex(evens), odds,
        "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    val rebuilt = fullIndex(docs).as[(Long, Int, String)].collect().toSet
    assert(merged === rebuilt)
    // and the increment's rows really came through the in-row path:
    // merging an empty increment is the identity
    val id0 = Dedup.mergeBandIndex(fullIndex(evens),
        odds.where(lit(false)), "doc_id", "text")
      .as[(Long, Int, String)].collect().toSet
    assert(id0 === fullIndex(evens).as[(Long, Int, String)].collect().toSet)
  }

  test("minhash: identical docs share all signatures; banding finds them") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val sig = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
    val sigs = sig.select("doc_id", "h", "minhash")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(sigs(0L) === sigs(1L))
    val cand = Dedup.minhashBandCandidates(sig, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 1L)))
    assert(!cand.contains((0L, 3L)) && !cand.contains((1L, 3L)))
  }

  test("one-pass MinHashAgg matches a local reference computation") {
    import graft.dedup.MinHashAgg
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val sigs = Dedup.minhashSignaturesFast(sh, "doc_id", numHashes = 4)
      .as[(Long, Seq[Long])].collect().toMap
    // local oracle: same xxhash64 base hash (via a 1-row Spark eval, so
    // the exact engine hash is reproduced) + splitmix chain over the
    // collected shingle set
    val localShingles = sh.as[(Long, String)].collect().groupBy(_._1)
    val allShingles = localShingles.values.flatten.map(_._2).toSeq.distinct
    val baseHash: Map[String, Long] = allShingles.toDF("s")
      .select(col("s"), xxhash64(col("s")).bitwiseAND(lit(Long.MaxValue)))
      .as[(String, Long)].collect().toMap
    localShingles.foreach { case (id, rows) =>
      val expected = Array.fill(4)(Long.MaxValue)
      rows.map(_._2).foreach { s =>
        var h = baseHash(s)
        (0 until 4).foreach { i =>
          if (h < expected(i)) expected(i) = h
          h = MinHashAgg.mix(h)
        }
      }
      assert(sigs(id).toSeq === expected.toSeq, s"doc $id")
    }
    assert(sigs(0L) === sigs(1L)) // identical docs, identical signatures
  }

  test("simhash: equal docs equal, unrelated docs differ") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val hashes = Dedup.simhash(sh, "doc_id").as[(Long, Long)].collect().toMap
    assert(hashes(0L) === hashes(1L))
    assert(hashes(0L) !== hashes(3L))
  }

  test("simhash blocked pairs equal exact cross-join pairs on real corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = Dedup.simhash(Dedup.shingles(corpus, "doc_id", "text"), "doc_id")
    val exact = Dedup.simhashPairs(sh, "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val blocked = Dedup.simhashPairsBlocked(sh, "doc_id", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked === exact)
    assert(exact.nonEmpty, "fixture should produce at least one near-dup pair")
  }

  test("jaccard: dup pair = 1.0; candidate gating restricts pairs") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val all = Dedup.jaccardPairs(sh, "doc_id", threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    assert(all((0L, 1L)) === 1.0)
    assert(all((0L, 2L)) > 0 && all((0L, 2L)) < 1.0)
    val gated = Dedup.jaccardPairs(sh, "doc_id", 0.0,
      candidates = Some(Seq((0L, 2L)).toDF("id_a", "id_b")))
      .as[(Long, Long, Double)].collect()
    assert(gated.length === 1 && gated.head._1 === 0L && gated.head._2 === 2L)
  }

  test("segmentDupStats: duplicated docs score 1.0, unique docs 0.0") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p"), // 2 segments, both shared
      (2L, "a b c d e f g h i j k l m n o p"), // exact dup of doc 1
      (3L, "q r s t u v w x")                  // 1 unique segment
    ).toDF("doc_id", "text")
    val stats = Dedup.segmentDupStats(corpus, "doc_id", "text", w = 8)
      .select("doc_id", "n_segments", "dup_frac")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(stats(1L) === ((2L, 1.0)) && stats(2L) === ((2L, 1.0)))
    assert(stats(3L) === ((1L, 0.0)))
  }

  test("removeDuplicateSegments: first occurrence survives, exact dups vanish") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),  // both segments novel
      (2L, "a b c d e f g h i j k l m n o p"),  // exact dup -> vanishes
      (3L, "a b c d e f g h q r s t u v w x")   // shares segment 1, keeps tail
    ).toDF("doc_id", "text")
    val cleaned = Dedup.removeDuplicateSegments(corpus, "doc_id", "text", w = 8)
      .select("doc_id", "n_kept", "cleaned_text")
      .as[(Long, Long, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(cleaned(1L) === ((2L, "a b c d e f g h i j k l m n o p")))
    assert(!cleaned.contains(2L), "fully-duplicate doc must vanish")
    assert(cleaned(3L) === ((1L, "q r s t u v w x")))
  }

  test("containment: embedded passage scores 1.0 where jaccard under-scores") {
    // doc 11 is a strict prefix of doc 10: every shingle of 11 is in 10
    val sub = Seq(
      (10L, "a b c d e f g h i j k l"),
      (11L, "a b c d e"),
      (12L, "z y x w v u")
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(sub, "doc_id", "text")
    val cont = Dedup.containmentPairs(sh, "doc_id", threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    assert(cont((10L, 11L)) === 1.0)
    assert(!cont.contains((10L, 12L))) // no shared shingles, no pair
    val jac = Dedup.jaccardPairs(sh, "doc_id", threshold = 0.0)
      .as[(Long, Long, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    assert(jac((10L, 11L)) < 0.5, "jaccard under-scores the embedded passage")
  }

  test("embeddingNearDup finds identical vectors with cos=1") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq === Seq((0L, 1L, 1.0)))
  }

  test("facade cosineNearDuplicates is cell-gated and matches the exact twin in-cell") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val centers = Seq((0L, 1, 1.0), (0L, 2, 0.0), (1L, 1, 0.0), (1L, 2, 1.0))
      .toDF("cell", "dim", "c")
    val gated = Dedup.embeddingNearDupCells(
        emb, "vec_id", "embedding", centers, "cell", 0.99)
      .as[(Long, Long, Double)].collect()
    val exact = Dedup.embeddingNearDup(
        emb, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(gated.toSeq === Seq((0L, 1L, 1.0)))
    assert(gated.toSeq === exact.toSeq)
  }

  test("embeddingNearDupCells nProbe=1 and the in-row assignCells agree " +
    "with the long-form assignment, exact ties included") {
    // integer coordinates 1..7 and centers (2c+1)·1: a point with
    // coordinate sum 8c+8 is equidistant to centers c and c+1
    val rnd = new scala.util.Random(5)
    val emb = (0L until 60L)
      .map(i => (i, Seq.fill(4)((1 + rnd.nextInt(7)).toFloat)))
      .toDF("vec_id", "embedding")
    val centers = (for (c <- 0L until 4L; d <- 1 to 4)
      yield (c, d, (2 * c + 1).toDouble)).toDF("cell", "dim", "c")
    // the long-form reference: Σ(v−c)² per (point, cell), argmin by
    // (d2, cell), then every in-cell pair (threshold −1 keeps them all)
    val d2 = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("_d", "v")))
      .select(col("vec_id"), (col("_d") + 1).as("dim"), col("v"))
      .join(centers, "dim")
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
    val ties = d2.groupBy(col("vec_id")).agg(min(col("d2")).as("d2"))
      .join(d2, Seq("vec_id", "d2")).groupBy(col("vec_id")).count()
      .where(col("count") > 1).count()
    assert(ties > 0, "fixture must hold exact ties")
    val cells = d2.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("_m"))
      .select(col("vec_id"), col("_m.cell").as("cell"))
    assert(graft.mlops.ClusterOps.assignCells(emb, "vec_id", "embedding",
        centers, "cell").as[(Long, Long)].collect().toSet
      === cells.as[(Long, Long)].collect().toSet)
    val ref = cells.select(col("vec_id").as("id_a"), col("cell"))
      .join(cells.select(col("vec_id").as("id_b"), col("cell")), "cell")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val got = Dedup.embeddingNearDupCells(emb, "vec_id", "embedding",
        centers, "cell", threshold = -1.0)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(ref.nonEmpty)
    assert(got === ref)
  }

  test("ivfTopK fails loudly on an empty or mis-dimensioned centroid " +
    "table") {
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def cause(centers: org.apache.spark.sql.DataFrame): String = {
      val e = intercept[Exception](Similarity.ivfTopK(emb, emb, "vec_id",
        "embedding", centers, "cell", nProbe = 1, k = 1).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString("\n")
    }
    assert(cause(Seq.empty[(Long, Int, Double)].toDF("cell", "dim", "c"))
      .contains("empty centroid table"))
    assert(cause(Seq((0L, 1, 1.0)).toDF("cell", "dim", "c"))
      .contains("dim mismatch"))
  }

  test("graphSearchTopK recall beats single-probe adaptive IVF on boundary queries") {
    // unit vectors by angle; cells = the two axes, so assignment splits
    // at 45 degrees — queries at 44/46 degrees sit ON the boundary and
    // their true neighbors straddle it (the case the cell probe misses
    // and the graph walk recovers)
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val emb = Seq(
      0L -> v(44), 1L -> v(5), 2L -> v(20), 3L -> v(43),
      4L -> v(47), 5L -> v(70), 6L -> v(85), 7L -> v(46)
    ).toDF("vec_id", "embedding")
    val centers = Seq((0L, 1, 1.0), (0L, 2, 0.0), (1L, 1, 0.0), (1L, 2, 1.0))
      .toDF("cell", "dim", "c")
    val queries = emb.where(col("vec_id").isin(0L, 7L))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val truth = topSets(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 3))
    val ivf = topSets(Similarity.ivfTopKAdaptive(emb, queries,
      "vec_id", "embedding", centers, "cell", nProbe = 1, k = 3,
      minCand = 1))
    val g = Similarity.knnGraphCells(emb, "vec_id", "embedding", centers,
      "cell", k = 2, nProbe = 2)
    val graph = topSets(Similarity.graphSearchTopK(emb, queries,
      "vec_id", "embedding", centers, "cell", g, k = 3,
      rounds = 2, beam = 8))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    val (rIvf, rGraph) = (recall(ivf), recall(graph))
    assert(rGraph >= rIvf,
      s"graph recall $rGraph must be >= adaptive-IVF recall $rIvf")
    assert(rGraph === 1.0, s"graph walk should recover all boundary " +
      s"neighbors on this fixture, got $rGraph")
    assert(rIvf < 1.0, "fixture must actually defeat the single probe")
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 2)
      .select("neighbor_id", "rnk").as[(Long, Int)].collect()
    assert(top.toSeq === Seq((1L, 1), (2L, 2)))
  }

  test("connected components: chains merge, islands stay separate, survivors marked") {
    import graft.dedup.Components
    // two components: {1,2,3,4} via a chain (diameter 3), {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Components.dedupClusters(edges, "id_a", "id_b")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got === Map(
      1L -> ((1L, 1)), 2L -> ((1L, 0)), 3L -> ((1L, 0)), 4L -> ((1L, 0)),
      10L -> ((10L, 1)), 11L -> ((10L, 0))))
  }

  test("repeatedSpanStats: cross-doc spans covered, adjacent windows merge, short docs zero") {
    val docs = Seq(
      (1L, "a b c d e f g h x y z"),                 // shared run at start
      (2L, "p q a b c d e f g h r"),                 // same run mid-doc
      (3L, "a b c d e f g h a b c d e f g h"),       // self-repeat: [1,8]+[9,16] merge
      (4L, "all these words are entirely unique here okay"), // no dup
      (5L, "too short")                              // < L tokens
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpanStats(docs, "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(got(0) === ((1L, 11L, 8L, 0.727273)))
    assert(got(1) === ((2L, 11L, 8L, 0.727273)))
    assert(got(2) === ((3L, 16L, 16L, 1.0))) // merged into ONE island
    assert(got(3) === ((4L, 8L, 0L, 0.0)))
    assert(got(4) === ((5L, 2L, 0L, 0.0)))
  }

  test("removeRepeatedSpans: canonical copy intact, others stripped, full repeats vanish") {
    val docs = Seq(
      (1L, "a b c d e f g h x y z"),   // canonical owner of the span
      (2L, "p q a b c d e f g h r"),   // non-canonical copy -> stripped
      (3L, "a b c d e f g h x y z"),   // exact duplicate -> vanishes
      (4L, "nothing here repeats at all in any window present")
    ).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        windowTokens = 8)
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect()
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 4L)) // doc 3 gone
    assert(got(0) === ((1L, 11L, "a b c d e f g h x y z")))
    assert(got(1) === ((2L, 3L, "p q r")))
    assert(got(2)._2 === 9L)
  }

  test("connectedComponents: driver union-find rung ≡ distributed label loop") {
    // r22: below the adjacency threshold the fixpoint is computed by a
    // driver-side union-find instead of the checkpointed label loop.
    // Pin the two paths against each other on a graph with real depth
    // (a 40-chain needs pointer jumping), a star (min id is a leaf,
    // not the hub), a cycle, and value-level expectations.
    import graft.dedup.Components
    val edgeSeq =
      (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
        (51L to 60L).map(i => (100L, i)) ++ // star hub=100, min=51
        Seq((200L, 201L), (201L, 202L), (202L, 200L)) // cycle
    val edges = edgeSeq.toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    // default cutoff >> |edges|: driver path
    val viaDriver = labels(Components.connectedComponents(edges, "id_a", "id_b"))
    var rounds = -1
    val viaLoop = labels(Components.resolve(edges, "id_a", "id_b",
      maxIter = 20, onRounds = n => rounds = n, driverUfBelow = 0))
    assert(rounds > 1) // the distributed label loop ran
    assert(viaDriver === viaLoop)
    assert((1L to 40L).forall(viaDriver(_) == 1L))
    assert(viaDriver(100L) == 51L && (51L to 60L).forall(viaDriver(_) == 51L))
    assert(Seq(200L, 201L, 202L).forall(viaDriver(_) == 200L))
  }

  test("connectedComponentsAll gives isolated nodes singleton components") {
    import graft.dedup.Components
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 7L, 9L).toDF("id")
    val got = Components.dedupClustersAll(edges, "id_a", "id_b", nodes, "id")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got === Map(
      1L -> ((1L, 1)), 2L -> ((1L, 0)), 3L -> ((1L, 0)),
      7L -> ((7L, 1)), 9L -> ((9L, 1))))
    // edge endpoints OUTSIDE the declared universe stay visible (and can
    // be survivors) — dropping them would leave clusters with no
    // is_survivor=1 row
    val gapped = Components.dedupClustersAll(
        Seq((5L, 9L)).toDF("id_a", "id_b"), "id_a", "id_b",
        Seq(9L, 11L).toDF("id"), "id")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(gapped === Map(
      5L -> ((5L, 1)), 9L -> ((5L, 0)), 11L -> ((11L, 1))))
  }

  test("IVF recall grows monotonically with nProbe and is exact at full probe") {
    // On these synthetic embeddings the label-mean cells carry little
    // geometric structure (measured ~0.4 recall at 2/10 probes), so the
    // spec pins the INVARIANTS instead of a magic recall number: recall
    // never decreases as probes widen, beats the random-cells baseline
    // (nProbe/nCells), and hits 1.0 when every cell is probed (IVF with
    // full probe IS brute force).
    import graft.mlops.NaiveBayesOps
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 20)
    val centers = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nCells = 10
    val recalls = Seq(2, 5, nCells).map { p =>
      val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          centers, "cell", nProbe = p, k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      p -> (exact.intersect(ivf).size.toDouble / exact.size)
    }
    recalls.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1, s"recall dropped widening probes $p1->$p2: $r1 -> $r2")
    }
    recalls.foreach { case (p, r) =>
      assert(r >= p.toDouble / nCells * 0.8,
        s"nProbe=$p recall $r worse than 0.8x the random-cells baseline")
    }
    assert(recalls.last._2 === 1.0,
      s"full probe must equal brute force, got ${recalls.last._2}")
  }

  test("sign-LSH buckets are consistent between build and query sides") {
    val emb = Seq(
      (0L, Seq(1.0f, -1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f)),
      (1L, Seq(0.5f, -0.2f, 0.1f, 0.3f, 0.2f, 0.9f, 0.7f, 0.4f)), // same signs as 0
      (2L, Seq(-1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val buckets = Similarity.signBuckets(emb, "vec_id", "embedding")
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(buckets(0L) === buckets(1L))
    assert(buckets(0L) !== buckets(2L))
    val top = Similarity.lshTopK(emb, emb.where(col("vec_id") === 0),
      "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect()
    assert(top.toSeq === Seq(1L)) // only the same-bucket vector is reachable
  }

  // Test twin of the graduated sim_lsh_recall driver query: the seeded
  // spark.ml BucketedRandomProjectionLSH stays covered here (random
  // hyperplanes aren't SQL-mirrorable, so no DuckDB oracle is possible).
  test("ml BRP-LSH approxSimilarityJoin: distances exact, near pair found, seed-stable") {
    val raw = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // Plant an exact duplicate of vec 0: distance 0 is inside any
    // threshold and identical vectors share every hash bucket, so the
    // approximate join MUST surface this pair — a recall assertion that
    // doesn't depend on the corpus's incidental geometry.
    val emb = raw.union(raw.where(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"), col("embedding")))
    val (transformed, model) =
      Similarity.fitMlLsh(emb, "vec_id", "embedding")
    val joined = model.approxSimilarityJoin(transformed, transformed, 1.0, "dist")
      .where(col("datasetA.vec_id") < col("datasetB.vec_id"))
      .select(col("datasetA.vec_id").as("id_a"),
        col("datasetB.vec_id").as("id_b"), col("dist"))
      .cache()
    val rows = joined.collect()
    assert(rows.exists(r => r.getLong(0) == 0L && r.getLong(1) == 100000L),
      "planted duplicate pair (0, 100000) must be found")
    // every reported distance is the TRUE euclidean distance (the join
    // only approximates the candidate set, never the metric) and within
    // the threshold
    val exact = joined
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("_a")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("_b")), "id_b")
      .withColumn("_true", sqrt(expr(
        "aggregate(zip_with(_a, _b, (x, y) -> pow(x - y, 2)), 0D, (acc, e) -> acc + e)")))
      .select(col("dist"), col("_true")).collect()
    exact.foreach { r =>
      assert(r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6)
    }
    // same seed => same candidate pairs (retry/replan determinism)
    val (transformed2, model2) =
      Similarity.fitMlLsh(emb, "vec_id", "embedding")
    val again = model2.approxSimilarityJoin(transformed2, transformed2, 1.0, "dist")
      .where(col("datasetA.vec_id") < col("datasetB.vec_id"))
      .select(col("datasetA.vec_id").as("id_a"),
        col("datasetB.vec_id").as("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(again === rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    joined.unpersist()
  }

  test("PQ: codebooks cover subspaces, codes bounded, ADC exact on cluster recovery") {
    // 4 well-separated clusters in 8 dims, 2 subspaces of 4 dims,
    // 4 codes each: after 2 Lloyd rounds each cluster owns a code and
    // ADC ranks same-cluster vectors first despite the 32× compression.
    val base = Seq(
      Array(10f, 10f, 10f, 10f, 0f, 0f, 0f, 0f),
      Array(-10f, -10f, -10f, -10f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 10f, 10f, 10f, 10f),
      Array(0f, 0f, 0f, 0f, -10f, -10f, -10f, -10f))
    val emb = (0 until 16).map { i =>
      val c = base(i % 4)
      (i.toLong, c.zipWithIndex.map { case (x, j) =>
        x + 0.1f * ((i / 4) + 1) * (if (j % 2 == 0) 1 else -1) })
    }.toDF("vec_id", "embedding")
    val centers = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dsub = 4, ksub = 4, iters = 2)
    val crows = centers.collect()
    // every (sub, cid) entry spans exactly its own 4 dims
    crows.foreach { r =>
      val sub = r.getInt(0); val dim = r.getInt(2)
      assert((dim - 1) / 4 === sub, s"dim $dim leaked into sub $sub")
    }
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", centers, dsub = 4)
    assert(codes.count() === 32) // 16 vecs × 2 subs
    assert(codes.where(col("cid") < 0 || col("cid") >= 4).count() === 0)
    // same-cluster vectors share codes in BOTH subspaces
    val byVec = codes.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (i <- 0 until 16; s <- 0 until 2)
      assert(byVec((i.toLong, s)) === byVec(((i % 4).toLong, s)),
        s"vec $i sub $s code differs from cluster seed ${i % 4}")
    // ADC top-3 for query 0 = the three other members of cluster 0
    val top = Similarity.pqTopK(emb, emb.where(col("vec_id") === 0),
        "vec_id", "embedding", centers, dsub = 4, k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top === Set(4L, 8L, 12L), s"got $top")

    // IVF+PQ on the same corpus: coarse cells = per-cluster means
    // (cluster id = vec_id % 4), 1 probe -> candidates are exactly the
    // query's own cluster, ADC ranks them; k=5 asks for more than the
    // cell holds, so the gate (not k) bounds the answer.
    val coarse = graft.mlops.NaiveBayesOps.toLongForm(
        emb.withColumn("cl", col("vec_id") % 4), Seq("cl"), "embedding")
      .groupBy(col("cl"), col("dim")).agg(avg(col("v")).as("c"))
    val ivfpq = Similarity.ivfPqTopK(emb, emb.where(col("vec_id") === 0),
      "vec_id", "embedding", coarse, "cl", centers, dsub = 4,
      nProbe = 1, k = 5)
    val got = ivfpq.select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(4L, 8L, 12L), s"gate leaked: $got")
  }

  test("IVFPQ rerank: exact refine of the ADC pool, recall >= pure ADC") {
    // The two-stage ranker's contract: stage 2 is EXACTLY the exact-L2
    // re-ordering of stage 1's top-m pool (deterministic, checked
    // directly), and against exact-L2 ground truth its recall@k is at
    // least the pure-ADC ranker's (the refine stage can only fix
    // quantization-error misorderings within the shared gate).
    import graft.mlops.NaiveBayesOps
    graft.plans.GraftExpressions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 10)
    val coarse = NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val pq = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      dsub = 16, ksub = 8, iters = 2)
    val pool = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        coarse, "cell", pq, dsub = 16, nProbe = 2, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val rerank = Similarity.ivfPqRerankTopK(emb, queries, "vec_id",
        "embedding", coarse, "cell", pq, dsub = 16, nProbe = 2,
        m = 10, k = 3)
      .select("query_id", "neighbor_id", "rnk").as[(Long, Long, Int)]
      .collect()
    // stage-2 output ⊆ stage-1 pool
    val poolSet = pool.toSet
    rerank.foreach { case (q, n, _) =>
      assert(poolSet.contains((q, n)), s"rerank emitted ($q,$n) outside pool")
    }
    // rerank top-3 = exact-L2 best 3 of the pool (rounded-tie rule)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def d2(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      val s = x.indices.map(i => (x(i).toDouble - y(i).toDouble) *
        (x(i).toDouble - y(i).toDouble)).sum
      math.rint(s * 1e4) / 1e4
    }
    pool.groupBy(_._1).foreach { case (q, cands) =>
      val want = cands.map(_._2).sortBy(n => (d2(q, n), n)).take(3).toSeq
      val gotQ = rerank.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
      assert(gotQ === want, s"query $q: rerank $gotQ != exact pool order $want")
    }
    // recall@3 vs exact-L2 truth: rerank >= pure ADC
    val truth = queries.select(col("vec_id")).as[Long].collect().flatMap { q =>
      vecs.keys.filter(_ != q).toSeq.sortBy(n => (d2(q, n), n)).take(3)
        .map(n => (q, n))
    }.toSet
    val adc3 = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        coarse, "cell", pq, dsub = 16, nProbe = 2, k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rr3 = rerank.map(t => (t._1, t._2)).toSet
    val (recallRr, recallAdc) =
      (truth.intersect(rr3).size.toDouble / truth.size,
        truth.intersect(adc3).size.toDouble / truth.size)
    assert(recallRr >= recallAdc,
      s"rerank recall $recallRr below pure-ADC recall $recallAdc")
  }

  test("knnGraphCells: in-cell top-k per point, cross-cell excluded, probes recover") {
    import spark.implicits._
    // two tight clusters far apart; point 4 sits between but labeled 0
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 0), (1L, Seq(1.0, 0.1), 0), (2L, Seq(1.0, 0.2), 0),
      (10L, Seq(-1.0, 0.0), 1), (11L, Seq(-1.0, 0.1), 1))
      .toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val g1 = Similarity.knnGraphCells(emb, "vec_id", "embedding",
        centers, "cell", k = 2, nProbe = 1)
      .as[(Long, Long, Int, Double)].collect()
    // every point's neighbors stay in its own cell
    assert(g1.filter(_._1 < 10L).forall(_._2 < 10L))
    assert(g1.filter(_._1 >= 10L).forall(_._2 >= 10L))
    // cluster 0 points get 2 neighbors each; cluster 1 only has 1
    assert(g1.count(_._1 == 0L) === 2 && g1.count(_._1 == 10L) === 1)
    // point 0's rank-1 neighbor is its nearest in-cluster mate
    assert(g1.find(t => t._1 == 0L && t._3 == 1).get._2 === 1L)
    // nProbe=2 probes BOTH cells here (only 2 exist): the graph
    // becomes the full brute-force top-k
    val g2 = Similarity.knnGraphCells(emb, "vec_id", "embedding",
        centers, "cell", k = 2, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect()
    val bf = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Int, Double)].collect()
    assert(g2.map(t => (t._1, t._2, t._3)).toSet ===
      bf.map(t => (t._1, t._2, t._3)).toSet)
  }

  test("cellLoadHistogram: sizes, pair ledger, and the budget prefix") {
    import spark.implicits._
    // three well-separated clusters of sizes 2 / 3 / 5: one histogram
    // row each, the pair ledger 2 → 8 → 28, and a budget of 10 splits
    // the table after size 3
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 0), (1L, Seq(1.0, 0.1), 0),
      (10L, Seq(0.0, 1.0), 1), (11L, Seq(0.1, 1.0), 1), (12L, Seq(0.2, 1.0), 1),
      (20L, Seq(-1.0, 0.0), 2), (21L, Seq(-1.0, 0.1), 2),
      (22L, Seq(-1.0, 0.2), 2), (23L, Seq(-1.0, 0.3), 2),
      (24L, Seq(-1.0, 0.4), 2))
      .toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val hist = Similarity.cellLoadHistogram(emb, "vec_id", "embedding",
        centers, "cell", pairBudget = 10L)
      .orderBy(col("cell_size"))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(hist === Seq(
      (2L, 1L, 2L, 2L, true),
      (3L, 1L, 6L, 8L, true),
      (5L, 1L, 20L, 28L, false)))
  }

  test("knnGraphCellsBudget: picks the ledger cap, matches the manual knob") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0, 0.0), 0), (1L, Seq(1.0, 0.1), 0),
      (10L, Seq(0.0, 1.0), 1), (11L, Seq(0.1, 1.0), 1), (12L, Seq(0.2, 1.0), 1),
      (20L, Seq(-1.0, 0.0), 2), (21L, Seq(-1.0, 0.1), 2),
      (22L, Seq(-1.0, 0.2), 2), (23L, Seq(-1.0, 0.3), 2),
      (24L, Seq(-1.0, 0.4), 2))
      .toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int, Double)].collect().toSet
    // budget 10 → cap 3 (cum 8 fits, the size-5 cell would push to 28):
    // the size-5 cluster is dropped, exactly the manual maxCell=3 graph
    var tuned = (0L, 0L)
    val auto = Similarity.knnGraphCellsBudget(emb, "vec_id", "embedding",
      centers, "cell", k = 2, pairBudget = 10L,
      onTuned = (c, p) => tuned = (c, p))
    assert(tuned === ((3L, 8L)))
    assert(rows(auto) === rows(Similarity.knnGraphCells(emb, "vec_id",
      "embedding", centers, "cell", k = 2, maxCell = 3)))
    assert(rows(auto).nonEmpty && rows(auto).forall(_._1 < 20L))
    // a generous budget keeps every cell — identical to the default knob
    val all = Similarity.knnGraphCellsBudget(emb, "vec_id", "embedding",
      centers, "cell", k = 2, pairBudget = 100L,
      onTuned = (c, p) => tuned = (c, p))
    assert(tuned === ((5L, 28L)))
    assert(rows(all) === rows(Similarity.knnGraphCells(emb, "vec_id",
      "embedding", centers, "cell", k = 2)))
    // a budget below even the size-2 cells yields the EMPTY graph and
    // reports cap=1 / zero projected pairs — the caller's signal to
    // raise the budget or refine the centroids
    val none = Similarity.knnGraphCellsBudget(emb, "vec_id", "embedding",
      centers, "cell", k = 2, pairBudget = 1L,
      onTuned = (c, p) => tuned = (c, p))
    assert(tuned === ((1L, 0L)))
    assert(rows(none).isEmpty)
  }

  test("knnRefine: one NN-descent round lifts recall over the cell-gated graph") {
    import spark.implicits._
    graft.plans.GraftExpressions.register(spark)
    // 40 points in 6-d, 4 overlapping clusters: cell gating at
    // nProbe=2 of 4 cells forgoes some true cosine neighbors; one
    // neighbor-of-neighbor round must recover recall, never lose it
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      val base = (i % 4).toDouble * 0.5
      (i, Seq.fill(6)(rnd.nextDouble() + base), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val g = Similarity.knnGraphCells(emb, "vec_id", "embedding",
      centers, "cell", k = 3, nProbe = 2).localCheckpoint()
    val refined = Similarity.knnRefine(emb, "vec_id", "embedding", g, k = 3)
    // cosine brute-force ground truth (same metric as the graph)
    val bf = emb.select(col("vec_id").as("qid"), col("embedding").as("_q"))
      .crossJoin(emb.select(col("vec_id").as("nid"),
        col("embedding").as("_n")))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.plans.GraftExpressions.cosine(col("_q"), col("_n")).as("cs"))
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("qid"))
        .orderBy(col("cs").desc, col("nid"))))
      .where(col("rnk") <= 3)
      .select(col("qid"), col("nid"))
      .as[(Long, Long)].collect().toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val gP = pairs(g)
    val rP = pairs(refined)
    val recallG = (gP & bf).size.toDouble / bf.size
    val recallR = (rP & bf).size.toDouble / bf.size
    assert(recallR >= recallG,
      s"refinement lost recall: $recallR < $recallG")
    assert(recallR > recallG,
      s"fixture must exercise recovery (graph recall $recallG already" +
        s" at refined $recallR)")
    // deterministic: a rerun is value-identical
    val rerun = Similarity.knnRefine(emb, "vec_id", "embedding", g, k = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(rerun === refined.as[(Long, Long, Int, Double)].collect().toSet)
    // iterated descent: more rounds never lose recall, and a few
    // rounds close most of the remaining gap to brute force
    val r3 = Similarity.knnRefineIterated(emb, "vec_id", "embedding",
      g, k = 3, rounds = 3)
    val recall3 = (pairs(r3) & bf).size.toDouble / bf.size
    assert(recall3 >= recallR,
      s"round 3 recall $recall3 below round 1's $recallR")
    assert(recall3 >= 0.9,
      s"three rounds should approach brute force, got $recall3")
  }

  test("knnRefineConverged: tol=0 early stop equals the fixed-count twin") {
    import spark.implicits._
    graft.plans.GraftExpressions.register(spark)
    // same clusterable fixture as the knnRefine test: NN-descent must
    // reach an exact fixed point well inside the round budget
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      val base = (i % 4).toDouble * 0.5
      (i, Seq.fill(6)(rnd.nextDouble() + base), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val g = Similarity.knnGraphCells(emb, "vec_id", "embedding",
      centers, "cell", k = 3, nProbe = 2).localCheckpoint()
    val conv = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      g, k = 3, maxRounds = 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Int, Double)].collect().toSet
    // early stop cannot diverge from the fixed-count result: a fixed
    // point is idempotent, so running the skipped rounds changes nothing
    val fixed = Similarity.knnRefineIterated(emb, "vec_id", "embedding",
      g, k = 3, rounds = 6)
    assert(rows(conv.graph) === rows(fixed))
    // telemetry shape: one changed-edge count per EXECUTED round
    assert(conv.roundsRun >= 1 && conv.roundsRun <= 6)
    assert(conv.changedPerRound.length === conv.roundsRun)
    // the fixture must exercise both refinement and convergence: the
    // first round changes edges, the loop terminates before maxRounds
    // with a zero-change final round (the tol=0 stop condition)
    assert(conv.changedPerRound.head > 0L,
      s"fixture refined nothing: ${conv.changedPerRound}")
    assert(conv.roundsRun < 6,
      s"fixture never converged: ${conv.changedPerRound}")
    assert(conv.changedPerRound.last === 0L)
    // deterministic: a rerun replays the same stop round and telemetry
    val rerun = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      g, k = 3, maxRounds = 6)
    assert(rerun.roundsRun === conv.roundsRun)
    assert(rerun.changedPerRound === conv.changedPerRound)
    assert(rows(rerun.graph) === rows(conv.graph))
  }

  test("knnRefineConverged: tol>0 stops earlier and shares the telemetry prefix") {
    import spark.implicits._
    graft.plans.GraftExpressions.register(spark)
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      val base = (i % 4).toDouble * 0.5
      (i, Seq.fill(6)(rnd.nextDouble() + base), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val g = Similarity.knnGraphCells(emb, "vec_id", "embedding",
      centers, "cell", k = 3, nProbe = 2).localCheckpoint()
    val strict = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      g, k = 3, maxRounds = 6)
    // a 90% relative tolerance accepts any round that changed at most
    // ceil(0.9 · |edges|) directed edges — satisfied long before the
    // exact fixed point, so the loose run must stop no later (and on
    // this fixture strictly earlier than the zero-change round)
    val loose = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      g, k = 3, maxRounds = 6, tol = 0.9)
    assert(loose.roundsRun <= strict.roundsRun)
    assert(loose.roundsRun < strict.roundsRun,
      s"tol=0.9 did not stop earlier: loose=${loose.changedPerRound} " +
        s"strict=${strict.changedPerRound}")
    // both loops walk the SAME deterministic round sequence — the
    // telemetry of the loose run is a prefix of the strict run's
    assert(loose.changedPerRound ===
      strict.changedPerRound.take(loose.roundsRun))
    // the guard rails reject nonsense knobs
    intercept[IllegalArgumentException] {
      Similarity.knnRefineConverged(emb, "vec_id", "embedding",
        g, k = 3, maxRounds = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.knnRefineConverged(emb, "vec_id", "embedding",
        g, k = 3, maxRounds = 2, tol = 1.0)
    }
  }

  test("knnRefineConverged: removals count — degree>k input is not a false fixed point") {
    import spark.implicits._
    graft.plans.GraftExpressions.register(spark)
    // two tight, far-apart clusters, k=1: the fixed point g* maps each
    // point to its within-cluster nearest. Feeding g* PLUS cross-cluster
    // junk edges (per-source degree 2 > k) makes round 1 a pure-removal
    // round: the re-rank keeps the g* edge and drops the junk, adding
    // nothing. A removals-blind delta would read 0 and stop with the
    // telemetry claiming the input was already converged.
    val emb = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(0.05, 1.0)), (2L, Seq(0.4, 1.0)),
      (10L, Seq(100.0, -50.0)), (11L, Seq(100.5, -50.0)),
      (12L, Seq(104.0, -50.0)))
      .toDF("vec_id", "embedding")
    val gStar = Seq((0L, 1L), (1L, 0L), (2L, 1L), (10L, 11L), (11L, 10L),
      (12L, 11L)).toDF("src_id", "neighbor_id")
    // confirm the fixture: g* really is a k=1 fixed point
    val once = Similarity.knnRefine(emb, "vec_id", "embedding", gStar, k = 1)
      .select("src_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(once === gStar.as[(Long, Long)].collect().toSet,
      s"fixture is not a fixed point: $once")
    val junk = Seq((0L, 12L), (1L, 10L), (2L, 12L), (10L, 2L), (11L, 0L),
      (12L, 0L)).toDF("src_id", "neighbor_id")
    val conv = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      gStar.unionAll(junk), k = 1, maxRounds = 4)
    // round 1 removes the 6 junk edges (counted), round 2 confirms the
    // fixed point — a one-sided count would have stopped after round 1
    // with changedPerRound = [0]
    assert(conv.roundsRun === 2, s"telemetry: ${conv.changedPerRound}")
    assert(conv.changedPerRound === Seq(6L, 0L))
    assert(conv.graph.select("src_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet ===
      gStar.as[(Long, Long)].collect().toSet)
    // duplicate input rows are edge-set semantics, not separate edges:
    // duplicating g* changes neither the stop round nor the telemetry
    val dup = Similarity.knnRefineConverged(emb, "vec_id", "embedding",
      gStar.unionAll(gStar), k = 1, maxRounds = 4)
    assert(dup.roundsRun === 1 && dup.changedPerRound === Seq(0L))
  }

  test("knnCommunities: mutual kNN splits clusters, hub demoted to singleton") {
    import spark.implicits._
    // two tight clusters + a hub between them: the hub's top-2 are in
    // cluster A, but no A point reciprocates (their top-2 are in A) —
    // mutuality leaves the hub with no edges
    val emb = Seq(
      (0L, Seq(0.0, 1.0)), (1L, Seq(0.1, 1.0)), (2L, Seq(0.2, 1.0)),
      (10L, Seq(100.0, -50.0)), (11L, Seq(100.1, -50.0)), (12L, Seq(100.2, -50.0)),
      (5L, Seq(5.0, 1.0)))
      .map { case (i, v) => (i, v, 0) }
      .toDF("vec_id", "embedding", "label") // one cell: knn is complete
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val com = Similarity.knnCommunities(emb, "vec_id", "embedding",
        centers, "cell", k = 2, nProbe = 1, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(com(0L) === com(1L) && com(1L) === com(2L))
    assert(com(10L) === com(11L) && com(11L) === com(12L))
    assert(com(0L) !== com(10L))
    // the hub is its own singleton (full-universe disposition)
    assert(com(5L) === 5L)
    assert(!Set(com(0L), com(10L)).contains(com(5L)))
  }

  test("ivfTopKAdaptive: sparse-cell queries fall back to exact, covered stay gated") {
    import spark.implicits._
    // label 0: 8 points near the origin; label 1: 2 points far away
    val emb = ((0L to 7L).map(i => (i, Seq(1.0 + 0.01 * i, 0.0), 0)) ++
      Seq((8L, Seq(100.0, 50.0), 1), (9L, Seq(100.0, 51.0), 1)))
      .toDF("vec_id", "embedding", "label")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val queries = emb.where(col("vec_id") === 0L || col("vec_id") === 9L)
    val got = Similarity.ivfTopKAdaptive(emb, queries, "vec_id", "embedding",
        centers, "cell", nProbe = 1, k = 3, minCand = 4)
      .as[(Long, Long, Int, Double, Boolean)].collect()
    // query 0 probes the 8-member cell: 7 candidates >= 4 -> gated
    val q0 = got.filter(_._1 == 0L)
    assert(q0.length === 3 && q0.forall(!_._5))
    // query 9 probes the 2-member cell: 1 candidate < 4 -> exhaustive
    val q9 = got.filter(_._1 == 9L).sortBy(_._3)
    assert(q9.length === 3 && q9.forall(_._5))
    // fallback output IS the brute-force top-3
    val bf = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") === 9L),
        "vec_id", "embedding", k = 3)
      .orderBy("rnk").as[(Long, Long, Int, Double)].collect()
    assert(q9.map(t => (t._2, t._3, t._4)).toSeq ===
      bf.map(t => (t._2, t._3, t._4)).toSeq)
  }

  test("kCenterCoreset: farthest-point order, radii non-increasing, k=n covers all") {
    import spark.implicits._
    // 1-d line: ids 0..4 at 0, 1, 2, 10, 20
    val emb = Seq((0L, Seq(0.0)), (1L, Seq(1.0)), (2L, Seq(2.0)),
      (3L, Seq(10.0)), (4L, Seq(20.0))).toDF("vec_id", "embedding")
    val sel = Similarity.kCenterCoreset(emb, "vec_id", "embedding", k = 5)
      .orderBy("sel_rank").as[(Int, Long, Double)].collect().toSeq
    // seed 0; then 20 (farthest), 10, 2, 1 — classic farthest-first
    assert(sel.map(_._2) === Seq(0L, 4L, 3L, 2L, 1L))
    assert(sel.map(_._3) === Seq(0.0, 20.0, 10.0, 2.0, 1.0))
    // radii (after the seed's 0) never increase
    val radii = sel.map(_._3).drop(1)
    assert(radii === radii.sorted.reverse)
    // k beyond the corpus fails loudly instead of truncating silently
    val e = intercept[IllegalArgumentException] {
      Similarity.kCenterCoreset(emb, "vec_id", "embedding", k = 6)
    }
    assert(e.getMessage.contains("exceeds the corpus size"))
    // exact duplicates: radius hits 0 but ids never repeat
    val dup = Seq((0L, Seq(0.0)), (1L, Seq(0.0)), (2L, Seq(5.0)))
      .toDF("vec_id", "embedding")
    val d = Similarity.kCenterCoreset(dup, "vec_id", "embedding", k = 3)
      .orderBy("sel_rank").as[(Int, Long, Double)].collect().toSeq
    assert(d.map(_._2) === Seq(0L, 2L, 1L))
    assert(d.map(_._3) === Seq(0.0, 5.0, 0.0))
  }
  test("edit-distance verify: hand-pinned distances over forced candidates") {
    // identical 6-shingle prefix forces a shared band; the tail
    // differences give known distances
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base + " tail one"),
      (2L, base + " tail two"),           // dist 3 vs doc 1 (one->two)
      (3L, base + " completely different ending here now")
    ).toDF("doc_id", "text")
    val sh = graft.dedup.Dedup.shingles(docs, "doc_id", "text", n = 3)
    val sig = graft.dedup.Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
    val cand = graft.dedup.Dedup.minhashBandCandidates(sig, "doc_id",
      rowsPerBand = 2)
    val pairs = cand
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("_ta")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("_tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ta"), col("_tb")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)), s"banding must pair the twins: $pairs")
    assert(pairs((1L, 2L)) === 3)   // "one" -> "two": o->t, n->w, e->o
  }

  test("durable IVF asset: indexed query equals ivfTopK, plan is " +
    "partition-pruned, merge equals rebuild, non-asset fails loudly") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val mem = rows(Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      centers, "cell", nProbe = 2, k = 3))
    val full = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_full").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", centers, "cell",
      full)
    val idxed = Similarity.queryIvfIndexed(spark, full, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)
    assert(rows(idxed) === mem)
    // pruning is IN THE PLAN: partition filters on the probed cells
    val plan = idxed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"expected cell partition filters in:\n$plan")
    // merge ≡ rebuild: half-build + centroid-faithful append, row-level
    val inc = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_inc").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", centers, "cell", inc)
    Similarity.mergeIvfIndex(emb.where(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", inc)
    def assignRows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assignRows(inc) === assignRows(full))
    assert(rows(Similarity.queryIvfIndexed(spark, inc, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)) === mem)
    // a directory without the centroid sidecar is not an asset
    val bare = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_bare").toString
    intercept[IllegalArgumentException] {
      Similarity.mergeIvfIndex(emb, "vec_id", "embedding", bare)
    }
  }

  test("durable band index: meta roundtrip, merge equals rebuild, query " +
    "equals the in-memory pair path, plan is bucket-pruned, non-asset " +
    "fails loudly") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val full = java.nio.file.Files
      .createTempDirectory("graft_band_spec_full").toString
    val inc = java.nio.file.Files
      .createTempDirectory("graft_band_spec_inc").toString
    Dedup.writeBandIndex(docs, "doc_id", "text", full)
    Dedup.writeBandIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", inc)
    Dedup.mergeBandIndexAsset(docs.where(col("doc_id") % 2 =!= 0),
      "doc_id", "text", inc)
    assert(Dedup.bandIndexMeta(spark, inc) === ((3, 8, 2, 64)))
    def rows(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("band"), col("band_sig"),
        col("sig_bucket").cast("long"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(inc) === rows(full)) // merge ≡ rebuild, row for row
    // query path equals the in-memory incremental-pairs path
    val queries = docs.where(col("doc_id") % 7 === 0)
    val viaAsset = Dedup.queryBandIndex(spark, full, queries,
      "doc_id", "text")
    val plan = viaAsset.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("sig_bucket"),
      s"expected sig_bucket partition filters in:\n$plan")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val index = Dedup.bandSignatures(
      Dedup.minhashSignatures(
        Dedup.shingles(docs, "doc_id", "text"), "doc_id"),
      "doc_id")
    assert(pairs(viaAsset) === pairs(
      Dedup.nearDupPairsAgainstIndex(queries, index, "doc_id", "text",
        indexIdCol = "doc_id")))
    // a directory without the banding sidecar is not an asset
    val bare = java.nio.file.Files
      .createTempDirectory("graft_band_spec_bare").toString
    intercept[IllegalArgumentException] {
      Dedup.mergeBandIndexAsset(docs, "doc_id", "text", bare)
    }
    intercept[IllegalArgumentException] {
      Dedup.queryBandIndex(spark, bare, queries, "doc_id", "text")
    }
  }

  test("compactIvfIndex: one file per cell after append, rows/sidecar/" +
    "query unchanged, maxRecordsPerFile splits hot cells") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_cpt").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", centers, "cell", path)
    Similarity.mergeIvfIndex(emb.where(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", path)
    def assetRows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val queries = emb.where(col("vec_id") < 5)
    def hits() = Similarity.queryIvfIndexed(spark, path, queries,
      "vec_id", "embedding", nProbe = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val (rowsBefore, hitsBefore) = (assetRows(path), hits())
    val nCells = spark.read.parquet(path)
      .select(col("cell")).distinct().count()
    val (b, a) = Similarity.compactIvfIndex(spark, path)
    assert(b > nCells, s"append should leave >1 file in touched cells: $b")
    assert(a === nCells, s"compacted asset must hold one file per cell: $a")
    // compact ≡ no-op: rows, centroid sidecar, and query results survive
    assert(assetRows(path) === rowsBefore)
    assert(Similarity.ivfIndexCentroids(spark, path).count()
      === centers.count())
    assert(hits() === hitsBefore)
    // the giant-partition guard: a tiny per-file row bound splits cells
    val (_, a2) = Similarity.compactIvfIndex(spark, path,
      maxRecordsPerFile = 3)
    assert(a2 > a, s"maxRecordsPerFile must split hot cells: $a2 vs $a")
    assert(assetRows(path) === rowsBefore)
    // a non-asset dir fails loudly before any rewrite
    val bare = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_cpt_bare").toString
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, bare)
    }
  }

  test("compactPartitionedAsset compacts an asset named by a relative path") {
    // relative to the JVM's working directory; the file listing returns
    // fully qualified paths, which the asset root must still prefix
    val base = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(base)
    val rel = java.nio.file.Files.createTempDirectory(base, "graft_rel_asset")
      .toString
    assert(!new java.io.File(rel).isAbsolute)
    try {
      val rows = spark.range(64).select(col("id"), (col("id") % 4).as("p"))
      rows.repartition(4).write.partitionBy("p").mode("overwrite").parquet(rel)
      rows.repartition(4).write.partitionBy("p").mode("append").parquet(rel)
      def ids() = spark.read.parquet(rel).as[(Long, Int)].collect().toSet
      val idsBefore = ids()
      val (b, a) = graft.sources.AssetMaintenance
        .compactPartitionedAsset(spark, rel, "p")
      assert(a < b, s"compaction must cut the file count: $b -> $a")
      assert(a === 4, s"one file per partition expected: $a")
      assert(ids() === idsBefore)
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(rel))
  }

  test("retrainIvfIndex: rebuilt asset holds the union, centroids " +
    "re-center (drift drops), queries equal the in-memory twin") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val even = emb.where(col("vec_id") % 2 === 0).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val shifted = emb.where(col("vec_id") % 2 =!= 0).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE) * 1.5d + 0.25d)")
        .as("embedding"))
    val centers0 = graft.mlops.NaiveBayesOps
      .toLongForm(emb.where(col("vec_id") % 2 === 0), Seq("label"),
        "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_rt").toString
    Similarity.writeIvfIndex(even, "vec_id", "embedding", centers0,
      "cell", path)
    def psi() = Similarity.ivfDriftReport(spark, path, shifted, "vec_id",
        "embedding", bins = 32, lo = 0.0, hi = 2.0)
      .select(col("psi")).head().getDouble(0)
    val psiBefore = psi()
    assert(psiBefore >= 0.2, s"fixture must start in the retrain band: " +
      s"$psiBefore")
    Similarity.retrainIvfIndex(spark, path, shifted, "vec_id",
      "embedding", iters = 1)
    // the rebuilt asset holds asset ∪ increment, swapped in atomically
    // with a fresh centroid sidecar
    assert(spark.read.parquet(path).count() === even.count() +
      shifted.count())
    // re-centering absorbed the drifted mass: the SAME increment's
    // report falls out of the retrain band (it is now half the asset)
    val psiAfter = psi()
    assert(psiAfter < psiBefore / 2,
      s"retrain must absorb the drift: $psiBefore -> $psiAfter")
    // query path equals the in-memory ivfTopK twin with independently
    // recomputed warm-start centroids — the merge≡rebuild-style pin
    val all = even.unionByName(shifted)
    val allLong = graft.mlops.NaiveBayesOps
      .toLongForm(all, Seq("vec_id"), "embedding")
    val assign = graft.mlops.ClusterOps
      .assignToCenters(allLong, centers0, "vec_id", "cell")
      .select(col("vec_id"), col("cell"))
    val centers1 = allLong.join(assign, "vec_id")
      .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
    val queries = all.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(rows(Similarity.queryIvfIndexed(spark, path, queries,
      "vec_id", "embedding", nProbe = 2, k = 3))
      === rows(Similarity.ivfTopK(all, queries, "vec_id", "embedding",
        centers1, "cell", nProbe = 2, k = 3)))
  }

  test("ivfRecallCurve: recall monotone in nProbe, exactly 1.0 at full " +
    "probe coverage") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val nCells = centers.select(col("cell")).distinct().count().toInt
    val curve = Similarity.ivfRecallCurve(emb,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", centers,
        "cell", maxProbe = nCells, k = 3)
      .collect().map(r => (r.getInt(0), r.getDouble(3)))
    assert(curve.length === nCells)
    curve.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b >= a, s"recall must be monotone in nProbe: $a -> $b")
    }
    // probing EVERY cell means every truth neighbor's cell is probed —
    // recall is exactly 1.0 (candidates = corpus; the re-rank is exact)
    assert(curve.last._2 === 1.0)
  }

  test("ivfDriftReport: same-distribution increment stays in the append " +
    "band, shifted increment lands in the retrain band") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    val centers = graft.mlops.NaiveBayesOps
      .toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec_drift").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding", centers, "cell", path)
    def psiOf(inc: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfDriftReport(spark, path, inc, "vec_id", "embedding",
        bins = 32, lo = 0.0, hi = 2.0)
        .select(col("psi")).head().getDouble(0)
    // the other half of the SAME corpus: no drift signal
    val same = psiOf(emb.where(col("vec_id") % 2 =!= 0))
    assert(same < 0.1, s"same-distribution increment must not flag: $same")
    // the shifted corpus: far from every centroid, must flag retrain
    val drifted = psiOf(emb.where(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) * 1.5d + 0.25d)")
          .as("embedding")))
    assert(drifted >= 0.2, s"shifted increment must flag retrain: $drifted")
  }

}
