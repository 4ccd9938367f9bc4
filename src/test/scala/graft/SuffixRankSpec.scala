package graft

import graft.dedup.SuffixRank
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SuffixRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toksDf(toks: Seq[String]) =
    toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pos", "tok")

  /** Reference: rank suffixes by in-memory sort of the token sequences
    * (Ordering.Implicits gives lexicographic Seq ordering with
    * shorter-prefix-first, matching the operator's contract).
    */
  private def refRanks(toks: Seq[String]): Map[Long, Long] = {
    import scala.math.Ordering.Implicits._
    val order = toks.indices.sortBy(i => toks.drop(i).toSeq)
    order.zipWithIndex.map { case (pos, r) => (pos.toLong, (r + 1).toLong) }.toMap
  }

  test("banana: classic suffix ranks") {
    val toks = "b a n a n a".split(" ").toSeq
    val got = SuffixRank.suffixRanks(toksDf(toks), "pos", "tok")
      .as[(Long, Long)].collect().toMap
    // suffixes sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
    assert(got === Map(5L -> 1L, 3L -> 2L, 1L -> 3L, 0L -> 4L, 4L -> 5L, 2L -> 6L))
  }

  test("suffixArray is the inverse permutation of the ranks") {
    val toks = "b a n a n a".split(" ").toSeq
    val sa = SuffixRank.suffixArray(toksDf(toks), "pos", "tok")
      .as[(Long, Long)].collect().toMap
    assert(sa === Map(1L -> 5L, 2L -> 3L, 3L -> 1L, 4L -> 0L, 5L -> 4L, 6L -> 2L))
  }

  test("randomized stream matches in-memory suffix sort") {
    val rnd = new scala.util.Random(7)
    // small alphabet forces deep shared prefixes — many doubling rounds
    val toks = Seq.fill(257)("w" + rnd.nextInt(3))
    val got = SuffixRank.suffixRanks(toksDf(toks), "pos", "tok")
      .as[(Long, Long)].collect().toMap
    assert(got === refRanks(toks))
  }

  test("all-equal tokens: ranks ordered by suffix length") {
    val toks = Seq.fill(17)("x")
    val got = SuffixRank.suffixRanks(toksDf(toks), "pos", "tok")
      .as[(Long, Long)].collect().toMap
    // shortest suffix (last position) sorts first
    assert(got === (0 until 17).map(i => (i.toLong, (17 - i).toLong)).toMap)
  }

  test("empty stream yields empty result") {
    val empty = Seq.empty[(Long, String)].toDF("pos", "tok")
    assert(SuffixRank.suffixRanks(empty, "pos", "tok").count() === 0)
  }

  /** Reference LCP array: sort suffixes in memory, count leading equal
    * tokens of each adjacent pair. Keyed by rank (1..n-1); value =
    * (pos, pos_next, lcp).
    */
  private def refLcp(toks: Seq[String]): Map[Long, (Long, Long, Long)] = {
    import scala.math.Ordering.Implicits._
    val order = toks.indices.sortBy(i => toks.drop(i).toSeq)
    order.sliding(2).zipWithIndex.collect { case (Seq(a, b), i) =>
      val l = toks.drop(a).zip(toks.drop(b)).takeWhile(t => t._1 == t._2).size
      ((i + 1).toLong, (a.toLong, b.toLong, l.toLong))
    }.toMap
  }

  private def gotLcp(toks: Seq[String]): Map[Long, (Long, Long, Long)] =
    SuffixRank.lcpArray(toksDf(toks), "pos", "tok")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (r, p, pn, l) => (r, (p, pn, l)) }.toMap

  test("banana: classic LCP array") {
    val toks = "b a n a n a".split(" ").toSeq
    // sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
    // LCPs:      1      3        0         0     2
    assert(gotLcp(toks) === Map(
      1L -> (5L, 3L, 1L), 2L -> (3L, 1L, 3L), 3L -> (1L, 0L, 0L),
      4L -> (0L, 4L, 0L), 5L -> (4L, 2L, 2L)))
  }

  test("randomized stream LCP matches in-memory reference") {
    val rnd = new scala.util.Random(13)
    // tiny alphabet: long shared prefixes exercise every greedy level
    val toks = Seq.fill(193)("w" + rnd.nextInt(2))
    assert(gotLcp(toks) === refLcp(toks))
  }

  test("all-distinct tokens: LCP all zero") {
    val toks = (0 until 23).map(i => f"t$i%03d")
    val got = gotLcp(toks)
    assert(got.size === 22 && got.values.forall(_._3 === 0L))
  }

  test("repeatedGramPositions finds exactly the repeated L-gram starts") {
    val toks = "b a n a n a".split(" ").toSeq
    def got(l: Int) = SuffixRank
      .repeatedGramPositions(toksDf(toks), "pos", "tok", minLen = l)
      .as[Long].collect().toSet
    assert(got(1) === Set(1L, 2L, 3L, 4L, 5L)) // a, n repeat; b doesn't
    assert(got(2) === Set(1L, 2L, 3L, 4L))     // "a n" @1,3; "n a" @2,4
    assert(got(3) === Set(1L, 3L))             // "a n a" @1,3
    assert(got(4) === Set.empty)
  }

  test("repeatedGramPositions matches brute-force gram grouping on random stream") {
    val rnd = new scala.util.Random(29)
    val toks = Seq.fill(181)("w" + rnd.nextInt(4))
    val L = 5
    val grams = toks.indices.dropRight(L - 1).map(i => (i.toLong, toks.slice(i, i + L)))
    val expected = grams.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(_.map(_._1)).toSet
    val got = SuffixRank.repeatedGramPositions(toksDf(toks), "pos", "tok", minLen = L)
      .as[Long].collect().toSet
    assert(got === expected)
  }

  test("prefixOffsets: distributed exclusive prefix sum matches scanLeft") {
    val rnd = new scala.util.Random(41)
    val rows = (0 until 97).map(i => (f"k$i%03d", rnd.nextInt(50) + 1L))
    val df = rows.toDF("k", "c")
    val offsets = SuffixRank.prefixOffsets(df, "k", "c")
    val got = offsets.df.select(col("k"), col("_off")).as[(String, Long)]
      .collect().toMap
    val sortedRows = rows.sortBy(_._1)
    val expected = sortedRows.map(_._1)
      .zip(sortedRows.map(_._2).scanLeft(0L)(_ + _).init).toMap
    offsets.free(blocking = true)
    assert(got === expected)
  }

  test("SA-detected spans agree with the L-gram hash path on a boilerplate corpus") {
    val rnd = new scala.util.Random(53)
    // 30 docs of ~25 tokens from a small vocab; every 5th doc carries a
    // shared 8-token boilerplate block -> cross-doc repeats at L=4 plus
    // incidental same-vocab repeats.
    val docs = (0L until 30L).map { id =>
      val body = Seq.fill(25)("w" + rnd.nextInt(12))
      val withB =
        if (id % 5 == 0) body.take(10) ++ (1 to 8).map("b" + _) ++ body.drop(10)
        else body
      (id, withB.mkString(" "))
    }.toDF("doc_id", "text")
    val lgram = graft.dedup.Dedup
      .repeatedSpanStats(docs, "doc_id", "text", windowTokens = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val sa = graft.dedup.Dedup
      .saRepeatedSpanStats(docs, "doc_id", "text", windowTokens = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(sa === lgram)
    val lgramClean = graft.dedup.Dedup
      .removeRepeatedSpans(docs, "doc_id", "text", windowTokens = 4)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val saClean = graft.dedup.Dedup
      .saRemoveRepeatedSpans(docs, "doc_id", "text", windowTokens = 4)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(saClean === lgramClean)
  }
}
