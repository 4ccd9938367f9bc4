package graft

import graft.core.Caches
import graft.text.TextAnalysis
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Unit fixtures for text-analysis operators whose corpus-scale behavior
  * is pinned by the `text_*` oracles — these pin the hand-computable
  * small cases (edge rows the synthetic corpus may not contain).
  */
class TextAnalysisSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unigramEntropy: uniform = ln k, constant doc = 0") {
    val docs = Seq(
      (1L, "a b c d"),      // uniform over 4 -> ln 4
      (2L, "x x x x x"),    // single symbol -> 0
      (3L, "a a b")         // 2/3, 1/3
    ).toDF("doc_id", "text")
    val h = TextAnalysis.unigramEntropy(docs, "doc_id", "text")
      .select("doc_id", "entropy_nats").as[(Long, Double)].collect().toMap
    assert(math.abs(h(1L) - math.log(4)) < 1e-6)
    assert(h(2L) === 0.0)
    val expected3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(h(3L) - expected3) < 1e-6)
  }

  test("zipfSlope: exact power-law corpus recovers its exponent") {
    // term t_r appears round(64 / r) times -> ln f = ln 64 - 1 * ln r
    val words = (1 to 8).flatMap(r => Seq.fill(64 / r)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val row = TextAnalysis.zipfSlope(docs, "text", topK = 4).head()
    // top 4 ranks have exact powers (64, 32, 21, 16): slope near -1
    assert(math.abs(row.getDouble(0) - (-1.0)) < 0.05, s"slope ${row.getDouble(0)}")
    assert(row.getLong(2) === 4L)
  }

  test("repetitionStats: hand-computed bigram fractions, short docs dropped") {
    val docs = Seq(
      (1L, "a b a b c"), // grams: "a b"x2, "b a", "b c"
      (2L, "x y"),       // one gram
      (3L, "solo")       // < n tokens -> no grams, dropped
    ).toDF("doc_id", "text")

    val r = TextAnalysis.repetitionStats(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()

    assert(r.length === 2)
    val d1 = r(0)
    assert(d1.getLong(0) === 1L)
    assert(d1.getLong(1) === 4L)          // n_grams
    assert(d1.getLong(2) === 3L)          // n_distinct_grams
    assert(d1.getDouble(3) === 0.5)       // dup: "a b" occurrences 2/4
    assert(d1.getDouble(4) === 0.5)       // top: max count 2/4
    val d2 = r(1)
    assert(d2.getLong(1) === 1L)
    assert(d2.getDouble(3) === 0.0)
    assert(d2.getDouble(4) === 1.0)
  }

  test("repetitionStats: unigram mode counts token multiplicity") {
    val docs = Seq((1L, "w w w z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs, "doc_id", "text", n = 1).collect()
    assert(r.head.getLong(1) === 4L)      // 4 unigrams
    assert(r.head.getLong(2) === 2L)      // {w, z}
    assert(r.head.getDouble(3) === 0.75)  // w appears 3/4
    assert(r.head.getDouble(4) === 0.75)
  }

  test("contaminationStats: any eval-overlapping n-gram flags the doc") {
    val train = Seq(
      (1L, "p q r s t u"),   // grams p-t, q-u; "q r s t u" hits via q-u? no: bigram-of-5 check below
      (2L, "a b c d e f g"), // contains eval 5-gram "c d e f g"
      (3L, "x y")            // too short, dropped
    ).toDF("doc_id", "text")
    val ev = Seq((100L, "z z c d e f g")).toDF("doc_id", "text")

    val r = TextAnalysis.contaminationStats(train, ev, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()

    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val d1 = r(0)
    assert(d1.getLong(1) === 2L)          // 6 tokens -> 2 5-grams
    assert(d1.getLong(2) === 0L)
    assert(d1.getInt(4) === 0)
    val d2 = r(1)
    assert(d2.getLong(1) === 3L)          // 7 tokens -> 3 5-grams
    assert(d2.getLong(2) === 1L)          // "c d e f g"
    assert(d2.getDouble(3) === 0.333333)
    assert(d2.getInt(4) === 1)
  }

  test("piiStats: counts and typed placeholders, multiple matches per doc") {
    val docs = Seq(
      (1L, "mail a@b.com and c.d@e-f.org ip 10.0.0.1 call 555-123-4567"),
      (2L, "clean text no pii 1234 999.1 10.0.0.1.2.3")
    ).toDF("doc_id", "text")

    val r = TextAnalysis.piiStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()

    assert(r(0).getLong(1) === 2L) // emails
    assert(r(0).getLong(2) === 1L) // ipv4
    assert(r(0).getLong(3) === 1L) // phones
    assert(r(0).getString(4) ===
      "mail <EMAIL> and <EMAIL> ip <IP> call <PHONE>")
    // "10.0.0.1.2.3" has no \b-delimited 4-group match windows... it does:
    // RE2/Java both match the leading "10.0.0.1" (the '.' after 1 is a
    // non-word boundary). Pin the actual shared behavior:
    assert(r(1).getLong(1) === 0L)
    assert(r(1).getLong(2) === 1L)
    assert(r(1).getString(4) === "clean text no pii 1234 999.1 <IP>.2.3")
  }

  test("bm25: tf monotone at equal length, zero-hit docs excluded, idf favors rare") {
    val docs = Seq(
      (1L, "spark spark spark pad pad"),
      (2L, "spark pad pad pad pad"),
      (3L, "pad pad pad pad pad"),      // no query term -> excluded
      (4L, "rare pad pad pad pad")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bm25(docs, "doc_id", "text", Seq("spark", "rare"))
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(!r.contains(3L))
    assert(r(1L) > r(2L))  // more tf, same dl
    assert(r(4L) > r(2L))  // rare term (df=1) outweighs common (df=2) at tf=1
  }

  test("bigramLmScore: self-trained bigram log-likelihood, hand-computed") {
    // Corpus bigrams: (a,b)x2 from doc1+doc2, (b,a)x1, (b,c)x1.
    // c1: a->3 (a appears as w1 3x), b->2? no: w1 occurrences: doc1 "a b a" ->
    // (a,b),(b,a); doc2 "a b c" -> (a,b),(b,c). c(a,.)=2, c(b,.)=2.
    // P(b|a)=2/2=1 -> ln 0; P(a|b)=1/2; P(c|b)=1/2.
    val docs = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val half = math.round(math.log(0.5) * 1e6) // quantized ln(1/2) micro-nats
    assert(r(0).getLong(1) === 2L)
    assert(r(0).getLong(2) === half)  // ln(1) + ln(1/2) in micro-nats
    assert(r(1).getLong(1) === 2L)
    assert(r(1).getLong(2) === half)  // same structure
  }

  test("importanceWeights: target-like docs get higher log-ratio") {
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta"),  // pure target style
      (2L, "gamma delta gamma delta gamma delta"),
      (3L, "alpha beta gamma delta alpha beta")
    ).toDF("doc_id", "text")
    val target = docs.where(col("doc_id") === 1)
    val r = TextAnalysis.importanceWeights(docs, target, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(1L) > r(2L))  // target doc beats off-domain
    assert(r(3L) > r(2L) && r(1L) > r(3L))  // mixed doc in between
  }

  test("contaminationStats: empty eval set leaves every doc clean") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val ev = Seq((9L, "x")).toDF("doc_id", "text") // too short -> no grams
    val r = TextAnalysis.contaminationStats(train, ev, "doc_id", "text", n = 5).collect()
    assert(r.head.getLong(2) === 0L && r.head.getInt(4) === 0)
  }

  test("phraseMatchCounts: adjacency in order, overlaps counted, absent docs dropped") {
    val docs = Seq(
      (0L, "a b c a b c"),   // "a b c" twice
      (1L, "a b a b"),       // bigram only — no c after
      (2L, "c b a"),         // reversed order must NOT match
      (3L, "a a a a"),       // overlapping "a a" = 3 occurrences
      (4L, "x y z")).toDF("doc_id", "text")
    val abc = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a", "b", "c")).as[(Long, Long)].collect().toMap
    assert(abc === Map(0L -> 2L))
    val aa = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a", "a")).as[(Long, Long)].collect().toMap
    assert(aa === Map(3L -> 3L))
    val single = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a")).as[(Long, Long)].collect().toMap
    assert(single === Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 4L))
  }

  test("phraseMatchCountsMany: one index build, per-phrase counts equal " +
    "the single-phrase runs") {
    val docs = Seq(
      (0L, "a b c a b c"),
      (1L, "a b a b"),
      (2L, "c b a"),
      (3L, "a a a a"),
      (4L, "x y z")).toDF("doc_id", "text")
    val phrases = Seq(Seq("a", "b", "c"), Seq("a", "a"), Seq("a"),
      Seq("q", "r")) // last phrase absent — contributes zero rows
    val many = TextAnalysis
      .phraseMatchCountsMany(docs, "doc_id", "text", phrases)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val singles = phrases.zipWithIndex.flatMap { case (p, i) =>
      TextAnalysis.phraseMatchCounts(docs, "doc_id", "text", p)
        .as[(Long, Long)].collect().map { case (d, n) => (i, d, n) }
    }.toSet
    assert(many === singles)
    assert(!many.exists(_._1 == 3)) // absent phrase yields no rows
  }

  test("phraseMatchCountsIndexed: equals the in-memory path, scan is " +
    "partition-pruned, driver bucket == Column bucket") {
    import org.apache.spark.sql.functions.{explode, lit, pmod, split}
    val docs = Seq(
      (0L, "a b c a b c"), (1L, "a b a b"), (2L, "c b a"),
      (3L, "x y z")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec").toString
    TextAnalysis.writePositionalIndex(docs, "doc_id", "text", path,
      buckets = 8)
    // no read-side bucket parameter: the modulus comes from the asset's
    // _graft_buckets metadata (a disagreeing parameter used to prune to
    // the wrong partitions silently — r18 advice)
    assert(TextAnalysis.indexBuckets(spark, path) === 8)
    val idxed = TextAnalysis.phraseMatchCountsIndexed(spark, path,
      "doc_id", Seq("a", "b"))
    val mem = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a", "b"))
    assert(idxed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      mem.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // the pruning is IN THE PLAN: partition filters on term_bucket
    val plan = idxed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("term_bucket"),
      s"expected term_bucket partition filters in:\n$plan")
    // the driver-side lookup hash must equal the write-side Column hash
    // for every term, or pruning silently reads the wrong bucket
    docs.select(explode(split(col("text"), " ")).as("t")).distinct()
      .select(col("t"),
        pmod(graft.functions.GraftFunctions.md5Long(col("t"), 8),
          lit(8)).as("b"))
      .collect().foreach { r =>
        assert(TextAnalysis.termBucket(r.getString(0), 8) === r.getLong(1),
          s"bucket mismatch for term ${r.getString(0)}")
      }
  }

  test("mergePositionalIndex: merge equals rebuild, modulus from asset " +
    "metadata, non-asset path fails loudly") {
    val docs = Seq(
      (0L, "a b c a b"), (1L, "b c a"), (2L, "a b a b"),
      (3L, "c c c")).toDF("doc_id", "text")
    val full = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_full").toString
    val inc = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_inc").toString
    TextAnalysis.writePositionalIndex(docs, "doc_id", "text", full,
      buckets = 8)
    TextAnalysis.writePositionalIndex(
      docs.where(col("doc_id") < 2), "doc_id", "text", inc, buckets = 8)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") >= 2), "doc_id", "text", inc)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("pos"), col("term"),
        col("term_bucket").cast("long"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(inc) === rows(full)) // merge ≡ rebuild, row for row
    // queries over the merged asset match the in-memory path
    val merged = TextAnalysis.phraseMatchCountsIndexed(spark, inc,
      "doc_id", Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === mem)
    // a directory without _graft_buckets is not an asset: both the
    // merge and the indexed query must fail loudly, never prune wrong
    val bare = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_bare").toString
    intercept[IllegalArgumentException] {
      TextAnalysis.mergePositionalIndex(docs, "doc_id", "text", bare)
    }
  }

  test("compactPositionalIndex: one file per bucket after appends, rows " +
    "and modulus sidecar unchanged, query identical") {
    val docs = Seq(
      (0L, "a b c a b"), (1L, "b c a"), (2L, "a b a b"),
      (3L, "c c c"), (4L, "a c b"), (5L, "b b c a")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_cpt").toString
    TextAnalysis.writePositionalIndex(
      docs.where(col("doc_id") < 2), "doc_id", "text", path, buckets = 4)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") >= 2 && col("doc_id") < 4),
      "doc_id", "text", path)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") >= 4), "doc_id", "text", path)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("pos"), col("term"),
        col("term_bucket").cast("long"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val before = rows(path)
    val nBuckets = spark.read.parquet(path)
      .select(col("term_bucket")).distinct().count()
    val (b, a) = TextAnalysis.compactPositionalIndex(spark, path)
    assert(b > nBuckets,
      s"three builds/appends should leave >1 file in touched buckets: $b")
    assert(a === nBuckets,
      s"compacted asset must hold one file per bucket: $a")
    // compact ≡ no-op: rows, the modulus sidecar, and queries survive
    assert(rows(path) === before)
    assert(TextAnalysis.indexBuckets(spark, path) === 4)
    val got = TextAnalysis.phraseMatchCountsIndexed(spark, path,
      "doc_id", Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
      Seq("a", "b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === mem)
  }

  test("positional index files are term-clustered and compaction " +
    "preserves the layout (row-group-stats locality)") {
    val docs = Seq(
      (0L, "zeta alpha mid zeta beta"), (1L, "beta mid alpha"),
      (2L, "alpha zeta beta mid"), (3L, "mid beta zeta alpha")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_sorted").toString
    TextAnalysis.writePositionalIndex(
      docs.where(col("doc_id") < 2), "doc_id", "text", path, buckets = 2)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") >= 2), "doc_id", "text", path)
    def dataFiles(): Seq[java.io.File] =
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap(d =>
          Option(d.listFiles()).getOrElse(Array.empty))
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).toSeq
    def assertSorted(): Unit = dataFiles().foreach { f =>
      val terms = spark.read.parquet(f.getPath)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      assert(terms === terms.sorted,
        s"file ${f.getName} is not term-clustered: $terms")
    }
    assertSorted() // every build/append file is term-sorted
    TextAnalysis.compactPositionalIndex(spark, path)
    assertSorted() // the rewrite keeps the clustering
  }

  test("compactPositionalIndex selective: only buckets at the file " +
    "threshold are rewritten, untouched buckets keep their exact files") {
    val docs = Seq(
      (0L, "a b c"), (1L, "b c a"), (2L, "a b"), (3L, "a a")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_posidx_spec_sel").toString
    // build + one full append: every touched bucket holds 2 files;
    // a second append of an "a"-only doc puts a 3rd file in a's bucket
    TextAnalysis.writePositionalIndex(
      docs.where(col("doc_id") < 2), "doc_id", "text", path, buckets = 4)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") === 2), "doc_id", "text", path)
    TextAnalysis.mergePositionalIndex(
      docs.where(col("doc_id") === 3), "doc_id", "text", path)
    val hotBucket = TextAnalysis.termBucket("a", 4)
    def bucketFiles(b: Long): Set[String] = {
      val d = new java.io.File(s"$path/term_bucket=$b")
      Option(d.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filterNot(n => n.startsWith("_") ||
          n.startsWith(".")).toSet
    }
    val coldBuckets = (0L until 4L).filter(_ != hotBucket)
      .filter(bucketFiles(_).nonEmpty)
    val coldBefore = coldBuckets.map(b => b -> bucketFiles(b)).toMap
    assert(bucketFiles(hotBucket).size >= 3)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("doc_id"), col("pos"), col("term"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val before = rows(path)
    val (_, _) = TextAnalysis.compactPositionalIndex(spark, path,
      minFilesPerPartition = 3)
    // the hot bucket collapsed to one file; cold buckets were NOT
    // rewritten — their exact file names survive (cost ∝ bloated
    // partitions, the selective-maintenance contract)
    assert(bucketFiles(hotBucket).size === 1)
    coldBuckets.foreach { b =>
      assert(bucketFiles(b) === coldBefore(b),
        s"untouched bucket $b must keep its exact files")
    }
    assert(rows(path) === before) // compact ≡ no-op at row level
    // the ledger the threshold is tuned by agrees with the filesystem
    val stats = graft.sources.AssetMaintenance
      .partitionFileStats(spark, path, "term_bucket")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(stats(hotBucket.toString) === 1L)
    coldBuckets.foreach { b =>
      assert(stats(b.toString) === coldBefore(b).size.toLong)
    }
  }

  /** RDD ids behind a frame's checkpoint leaves. */
  private def blockIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` with WARN enabled on Spark's RDD loggers (the session
    * logs at ERROR) and returns the WARN messages they emitted.
    */
  private def rddWarns[A](body: => A): (A, Seq[String]) = {
    val name = "org.apache.spark.rdd"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("rdd-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) lines.add(e.getMessage.getFormattedMessage): Unit
    }
    app.start()
    val ctx = LoggerContext.getContext(false)
    val prev = ctx.getLogger(name).getLevel
    Configurator.setLevel(name, Level.WARN)
    ctx.getConfiguration.getLoggerConfig(name).addAppender(app, null, null)
    ctx.updateLoggers()
    try {
      val a = body
      (a, lines.asScala.toSeq)
    } finally {
      ctx.getConfiguration.getLoggerConfig(name).removeAppender(app.getName)
      Configurator.setLevel(name, prev)
      app.stop()
    }
  }

  test("Caches: lazy internal persists are tracked, release drops them " +
    "and results still recompute") {
    val docs = Seq((1L, "a b a b"), (2L, "b a b")).toDF("doc_id", "text")
    val before = graft.core.Caches.trackedCount(spark)
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
    assert(graft.core.Caches.trackedCount(spark) === before + 1)
    val first = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // a shared eager checkpoint rides the same registry
    val shared = Caches.pinShared(docs, StorageLevel.MEMORY_AND_DISK)
    assert(graft.core.Caches.trackedCount(spark) === before + 2)
    assert(blockIds(shared).subsetOf(persistedIds))
    val (released, warns) = rddWarns(Caches.release(spark))
    assert(released >= 2)
    assert(graft.core.Caches.trackedCount(spark) === 0)
    assert((blockIds(shared) & persistedIds).isEmpty)
    assert(!warns.exists(_.contains("was locally checkpointed")), warns)
    // release forfeits reuse, never correctness: recompute matches
    assert(out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      === first)
  }

  test("Caches: Pinned.free removes exactly its own blocks, quietly") {
    // positive control: Spark's own unpersist logs the WARN `free` avoids
    val raw = spark.sparkContext.parallelize(1 to 4).localCheckpoint()
    raw.count()
    val (_, rawWarns) = rddWarns(raw.unpersist(blocking = true))
    assert(rawWarns.exists(_.contains("was locally checkpointed")), rawWarns)

    val a = Caches.pin(Seq(1L, 2L, 3L).toDF("x"), StorageLevel.MEMORY_AND_DISK)
    val b = Caches.pin(Seq(4L, 5L).toDF("y"), StorageLevel.MEMORY_AND_DISK)
    val (aIds, bIds) = (blockIds(a.df), blockIds(b.df))
    assert(aIds.size === 1 && (aIds ++ bIds).subsetOf(persistedIds))
    val before = persistedIds
    val (_, warns) = rddWarns(a.free(blocking = true))
    assert(before -- persistedIds === aIds)
    assert(bIds.subsetOf(persistedIds))
    assert(b.df.as[Long].collect().sorted.toSeq === Seq(4L, 5L))
    assert(warns.isEmpty, warns)
    b.free(blocking = true)
    assert((bIds & persistedIds).isEmpty)
  }

  test("Caches: iterated checkpoint loops keep only the returned frame's " +
    "blocks") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("a", "b")
    val before = persistedIds
    // driverUfBelow = 0 forces the distributed label loop
    val comp = graft.dedup.Components.resolve(edges, "a", "b",
      maxIter = 20, onRounds = _ => (), driverUfBelow = 0)
    assert(persistedIds -- before === blockIds(comp))
    assert(comp.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L))

    val toks = "b a n a n a b a n".split(" ").toSeq.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pos", "tok")
    val before2 = persistedIds
    val lcp = graft.dedup.SuffixRank.lcpArray(toks, "pos", "tok")
    assert(persistedIds -- before2 === blockIds(lcp))
    assert(lcp.count() === 8L)

    // the kNN refine loops: knnRefine's own shared frames are
    // session-tracked, so compare after releasing them
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      (i, Seq.fill(6)(rnd.nextDouble() + (i % 4).toDouble * 0.5))
    }.toDF("vec_id", "embedding")
    val ring = (0L until 40L)
      .flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 7) % 40)))
      .toDF("src_id", "neighbor_id")
    Caches.release(spark)
    val before3 = persistedIds
    val iterated = graft.similarity.Similarity.knnRefineIterated(emb,
      "vec_id", "embedding", ring, k = 3, rounds = 3)
    val converged = graft.similarity.Similarity.knnRefineConverged(emb,
      "vec_id", "embedding", ring, k = 3, maxRounds = 4)
    Caches.release(spark)
    assert(persistedIds -- before3 ===
      blockIds(iterated) ++ blockIds(converged.graph))
    assert(iterated.count() === 120L)
    assert(converged.roundsRun >= 2)
  }

  test("Rounds: iterated operators keep only the returned frame's blocks") {
    import graft.operators.Graph
    import graft.similarity.Similarity
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("src", "dst")
    val nodes = (0L to 8L).toDF("id")
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    val emb = Seq(0L -> v(44), 1L -> v(5), 2L -> v(20), 3L -> v(43),
      4L -> v(47), 5L -> v(70), 6L -> v(85), 7L -> v(46))
      .toDF("vec_id", "embedding")
    val centers = Seq((0L, 1, 1.0), (0L, 2, 0.0), (1L, 1, 0.0), (1L, 2, 1.0))
      .toDF("cell", "dim", "c")
    val docs = Seq((0L, "abab abab ab banana"), (1L, "abab ab ab nab"))
      .toDF("doc_id", "text")
    val knn = Similarity.knnGraphCells(emb, "vec_id", "embedding", centers,
      "cell", k = 2, nProbe = 2)
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() =>
        Graph.pageRank(edges, "src", "dst", nodes, "id", iters = 4)),
      "labelPropagation" -> (() =>
        Graph.labelPropagation(edges, "src", "dst", rounds = 3)),
      "kCoreWithStatus" -> (() =>
        Graph.kCoreWithStatus(edges, "src", "dst", k = 2)._1),
      "graphSearchTopK" -> (() => Similarity.graphSearchTopK(emb,
        emb.where(col("vec_id").isin(0L, 7L)), "vec_id", "embedding",
        centers, "cell", knn, k = 2, rounds = 3, beam = 4)),
      // driver-built results: nothing of theirs stays persisted
      "Bpe.learnMerges" -> (() =>
        graft.text.Bpe.learnMerges(docs, "text", merges = 3)),
      "Unigram.learn" -> (() => graft.text.Unigram.learn(docs, "text",
        maxPieceLen = 2, seedMultiTopK = 4, emRounds = 2, vocabSize = 8)),
      "kCenterCoreset" -> (() =>
        Similarity.kCenterCoreset(emb, "vec_id", "embedding", k = 4)))
    ops.foreach { case (name, op) =>
      Caches.release(spark)
      val before = persistedIds
      val out = op()
      Caches.release(spark)
      assert(persistedIds -- before === blockIds(out), name)
      assert(out.collect().nonEmpty, name)
    }
  }

  test("Caches: checkpoints read by lazy results are freed at release") {
    import graft.mlops.Eval
    import graft.similarity.Similarity
    val labels = Seq((0L, 1, 1), (1L, 1, 0), (2L, 0, 0), (3L, 0, 0))
      .toDF("id", "label", "pred")
    val emb = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.1, 0.9)), (4L, Seq(0.2, 0.8)))
      .toDF("vec_id", "embedding")
    val centers = Seq((0L, 1, 1.0), (0L, 2, 0.0), (1L, 1, 0.0), (1L, 2, 1.0))
      .toDF("cell", "dim", "c")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "ivfTopKAdaptive" -> (() => Similarity.ivfTopKAdaptive(emb, emb,
        "vec_id", "embedding", centers, "cell", nProbe = 1, k = 2,
        minCand = 2)),
      "classificationReport" -> (() =>
        Eval.classificationReport(labels, "label", "pred")),
      "cohensKappa" -> (() => Eval.cohensKappa(labels, "label", "pred")))
    ops.foreach { case (name, op) =>
      Caches.release(spark)
      val before = persistedIds
      assert(op().collect().nonEmpty, name)
      Caches.release(spark)
      assert((persistedIds -- before).isEmpty, name)
    }
  }

  test("pplBuckets: thirds ordered by mean LM score, head = highest, " +
    "short docs dropped") {
    val docs = (1L to 9L).map { i =>
      // doc i: i copies of the shared bigram "a b" + a unique tail pair;
      // more shared mass = higher mean log-prob = closer to head
      (i, (Seq.fill(i.toInt)("a b") :+ s"u$i v$i").mkString(" "))
    } :+ ((10L, "solo")) // single token: no bigrams, must be dropped
    val out = TextAnalysis
      .pplBuckets(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.length === 9 && !out.exists(_._1 == 10L))
    val byMean = out.sortBy(t => t._3.toDouble / t._2)
    assert(byMean.take(3).forall(_._4 == "c_tail"))
    assert(byMean.slice(3, 6).forall(_._4 == "b_middle"))
    assert(byMean.drop(6).forall(_._4 == "a_head"))
  }

  test("BPE learnMerges: frequency argmax, greedy non-overlap, lexicographic ties") {
    import graft.text.Bpe
    // ab(2) + abc(1): round 1 merges "a b" (count 3), round 2 "ab c" (1)
    val m = Bpe.learnMerges(Seq((0L, "ab ab abc")).toDF("doc_id", "text"), "text", 2)
      .orderBy("merge_round").as[(Int, String, Long)].collect()
    assert(m.toSeq === Seq((1, "a b", 3L), (2, "ab c", 1L)))
    // greedy non-overlap: "aaaa" has 3 adjacent (a,a) pairs but merging
    // left-to-right yields [aa, aa] — round 2 must see pair "aa aa"
    val g = Bpe.learnMerges(Seq((0L, "aaaa")).toDF("doc_id", "text"), "text", 2)
      .orderBy("merge_round").as[(Int, String, Long)].collect()
    assert(g.toSeq === Seq((1, "a a", 3L), (2, "aa aa", 1L)))
    // tie at count 1 between "a b" and "b a": lexicographic winner
    val t = Bpe.learnMerges(Seq((0L, "ab ba")).toDF("doc_id", "text"), "text", 1)
      .as[(Int, String, Long)].collect()
    assert(t.toSeq === Seq((1, "a b", 1L)))
    // pair exhaustion stops early with a SHORT table, never a null row:
    // "ab ab" fully merges in one round; asking for 3 returns 1
    val ex = Bpe.learnMerges(Seq((0L, "ab ab")).toDF("doc_id", "text"), "text", 3)
      .as[(Int, String, Long)].collect()
    assert(ex.toSeq === Seq((1, "a b", 2L)))
    // non-word merge symbols survive the encode path (no SQL
    // interpolation): apostrophe pair learned from "don't"-like corpus
    val punct = Bpe.applyMerges(Seq((0L, "n't n't")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("n", "'"), ("n'", "t")))
      .as[(Long, Long, Long)].head()
    assert(punct === ((0L, 2L, 2L))) // each n't -> [n', t] -> [n't]: 1 token
  }

  test("BPE applyMerges: ordered merges compress, counts per doc") {
    import graft.text.Bpe
    val docs = Seq((0L, "ab ab cab"), (1L, "abc")).toDF("doc_id", "text")
    // merge 1: a+b -> ab; merge 2: ab+c -> abc
    val enc = Bpe.applyMerges(docs, "doc_id", "text",
        Seq(("a", "b"), ("ab", "c")))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 0: ab->1, ab->1, cab->[c,ab]->2 tokens
    assert(enc(0L) === ((3L, 4L)))
    // doc 1: abc -> [ab, c] -> [abc] -> 1 token
    assert(enc(1L) === ((1L, 1L)))
    // encode after learn reproduces training's final segmentation:
    // corpus "ab ab abc", 2 merges -> every word one token
    val learned = Bpe.learnMerges(
        Seq((9L, "ab ab abc")).toDF("doc_id", "text"), "text", 2)
      .orderBy("merge_round").collect()
      .map(r => { val p = r.getString(1).split(" "); (p(0), p(1)) }).toSeq
    val stats = Bpe.applyMerges(Seq((9L, "ab ab abc")).toDF("doc_id", "text"),
        "doc_id", "text", learned)
      .as[(Long, Long, Long)].head()
    assert(stats === ((9L, 3L, 3L)))
  }

  test("BPE learnMergesToVocab: vocab cap = alphabet + merges, early stop") {
    import graft.text.Bpe
    // alphabet {a,b,c} = 3; target 5 -> exactly 2 merge rounds
    val m = Bpe.learnMergesToVocab(
        Seq((0L, "ab ab abc")).toDF("doc_id", "text"), "text", targetVocab = 5)
      .orderBy("merge_round")
      .select("merge_round", "pair", "alphabet_size", "vocab_size")
      .as[(Int, String, Long, Long)].collect()
    assert(m.toSeq === Seq((1, "a b", 3L, 4L), (2, "ab c", 3L, 5L)))
    // pair exhaustion caps BELOW the target: "ab ab" has one merge in it
    val ex = Bpe.learnMergesToVocab(
        Seq((0L, "ab ab")).toDF("doc_id", "text"), "text", targetVocab = 9)
      .select("vocab_size").as[Long].collect()
    assert(ex.toSeq === Seq(3L)) // alphabet 2 + the single learnable merge
    // target at or below the alphabet is a caller error, not 0 rounds
    intercept[IllegalArgumentException] {
      Bpe.learnMergesToVocab(
        Seq((0L, "ab")).toDF("doc_id", "text"), "text", targetVocab = 2)
    }
  }

  test("BPE applyMergesWithFallback: OOV chars decompose to UTF-8 byte symbols") {
    import graft.text.Bpe
    // alphabet {a,b}; 'ï' is 2 UTF-8 bytes (C3 AF), 'x' is 1 (78).
    // "aïb" -> [a, <0xC3>, <0xAF>, b]; merge (a,b) can't bridge the
    // bytes. "ab" -> [ab] via the merge; "x" -> [<0x78>].
    val out = Bpe.applyMergesWithFallback(
        Seq((0L, "ab aïb x")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("a", "b")), Seq("a", "b"))
      .as[(Long, Long, Long, Long)].head()
    // 3 words; tokens: 1 (ab) + 4 (aïb) + 1 (x) = 6; byte tokens 3
    assert(out === ((0L, 3L, 6L, 3L)))
    // in-alphabet input is bit-identical to the no-fallback path
    val plain = Bpe.applyMerges(
        Seq((1L, "ab ba")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("a", "b"))).as[(Long, Long, Long)].head()
    val fb = Bpe.applyMergesWithFallback(
        Seq((1L, "ab ba")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("a", "b")), Seq("a", "b"))
      .as[(Long, Long, Long, Long)].head()
    assert((fb._1, fb._2, fb._3) === plain && fb._4 === 0L)
  }

  test("chunkWindows: full coverage with overlap, short docs one chunk") {
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than window
      (3L, (1 to 8).map(i => s"u$i").mkString(" ")))  // exact 2 strides
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunkWindows(docs, "doc_id", "text",
        windowTokens = 4, strideTokens = 3)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // doc 1: starts 0,3,6 -> windows of 4,4,4 covering all 10 tokens
    assert(ch(1L).map(_._3) === Array("t1 t2 t3 t4", "t4 t5 t6 t7",
      "t7 t8 t9 t10"))
    assert(ch(1L).map(_._4).toSeq === Seq(4, 4, 4))
    // doc 2 shorter than the window: exactly one (partial) chunk
    assert(ch(2L).map(_._3) === Array("a b c"))
    // doc 3 (8 toks): starts 0,3 cover 1..7 — NOT 8; ceil((8-4)/3)=2
    // adds start 6 for the tail
    assert(ch(3L).map(_._3).last === "u7 u8")
    // every token of every doc appears in at least one chunk
    for ((id, rows) <- ch) {
      val toks = docs.where(col("doc_id") === id)
        .as[(Long, String)].head()._2.split(" ").toSet
      val covered = rows.flatMap(_._3.split(" ")).toSet
      assert(toks === covered, s"doc $id coverage")
    }
  }
  test("scriptStats: per-script counts, mojibake markers, dominance") {
    val docs = Seq(
      (1L, "hello world 42"),                       // ascii latin
      (2L, "\u4e2d\u6587\u8bed\u6599 ok"),          // 4 han > 2 latin
      (3L, "\u0440\u0443\u0441\u0441\u043a\u0438\u0439 ab"),  // 7 cyr > 2 latin
      (4L, "caf\u00e9 \u00c3\u00a9 \u00e2\u20ac\u2122 x\u00c2\u00a0y \ufffd"),
      (5L, "12345")                                 // digits only
    ).toDF("doc_id", "text")
    val r = TextAnalysis.scriptStats(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(2) === 10 && r(1L).getInt(5) === 2 &&
      r(1L).getString(8) === "latin")
    assert(r(2L).getInt(3) === 4 && r(2L).getString(8) === "han")
    assert(r(3L).getInt(4) === 7 && r(3L).getString(8) === "cyrillic")
    // caf\u00e9(4 latin) + markers: \u00c3\u00a9, \u00e2\u20ac\u2122, \u00c2+NBSP; one U+FFFD
    assert(r(4L).getInt(7) === 3, s"mojibake ${r(4L)}")
    assert(r(4L).getInt(6) === 1)
    assert(r(5L).getInt(5) === 5 && r(5L).getString(8) === "other")
  }

  test("markdownToText: rules, ordering, and survivors") {
    import graft.text.Markdown.markdownToText
    def strip(md: String): String = {
      val df = Seq((1L, md)).toDF("doc_id", "md")
      df.select(markdownToText(col("md"))).collect()(0).getString(0)
    }
    assert(strip("# Title\nBody **bold** *em* _und_") ===
      "Title Body bold em und")
    assert(strip("[text](http://x) ![alt](http://y)") === "text alt")
    // fenced code drops entirely, INCLUDING markdown inside it
    assert(strip("a\n```\n# not a header\n[x](y)\n```\nb") === "a b")
    assert(strip("`inline_kept` snake_case stays") ===
      "inline_kept snake_case stays")
    assert(strip("- one\n2. two\n> quote\n---\nend") ===
      "one two quote end")
  }

  test("unigram learn: repeated bigram becomes a piece; Viterbi prefers it") {
    import spark.implicits._
    val docs = Seq("abab abab ab", "abab ab ab").toDF("text")
    val vocab = graft.text.Unigram.learn(docs, "text", maxPieceLen = 2,
      seedMultiTopK = 2, emRounds = 2, vocabSize = 4)
    val rows = vocab.select("piece", "pcnt")
      .as[(String, Long)].collect().toMap
    // 'ab' dominates every segmentation; 'ba' never survives a round
    assert(rows.contains("ab"), s"vocab was $rows")
    assert(!rows.contains("ba"), s"vocab was $rows")
    val enc = graft.text.Unigram.encodeStats(docs.withColumn("doc_id",
        org.apache.spark.sql.functions.monotonically_increasing_id()),
      "doc_id", "text", vocab, maxPieceLen = 2)
      .agg(org.apache.spark.sql.functions.sum("n_tokens_uni")).head().getLong(0)
    // abab -> [ab, ab] (2), ab -> [ab] (1): 2+2+1 + 2+1+1 = 9 tokens
    assert(enc === 9L, s"total unigram tokens $enc")
  }

  test("unigram encode under a chars-only vocab counts every character") {
    import spark.implicits._
    val docs = Seq((1L, "abc ab a"), (2L, "ccc")).toDF("doc_id", "text")
    val vocab = Seq(("a", 1L, -1.0), ("b", 1L, -1.5), ("c", 1L, -2.0))
      .toDF("piece", "pcnt", "lp")
    val got = graft.text.Unigram.encodeStats(docs, "doc_id", "text",
        vocab, maxPieceLen = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_words", "n_tokens_uni")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L, 6L), (2L, 1L, 3L)))
  }

  test("unigram in-row encode == batch distinct-word encode (streaming shape)") {
    import spark.implicits._
    // repeated words (dedup-sensitive) + tie-heavy pieces
    val docs = Seq((1L, "abab abab ab ba"), (2L, "abba ab abab"),
      (3L, "ba ba ba")).toDF("doc_id", "text")
    val vocab = graft.text.Unigram.learn(docs, "text", maxPieceLen = 2,
      seedMultiTopK = 3, emRounds = 2, vocabSize = 5)
    val batch = graft.text.Unigram.encodeStats(docs, "doc_id", "text",
      vocab, maxPieceLen = 2).collect().toSet
    val inRow = graft.text.Unigram.encodeStatsInRow(docs, "doc_id", "text",
      graft.text.Unigram.vocabToMap(vocab), maxPieceLen = 2)
      .collect().toSet
    assert(inRow === batch)
    // empty-text doc drops on both paths
    val withEmpty = docs.union(Seq((4L, "")).toDF("doc_id", "text"))
    assert(graft.text.Unigram.encodeStatsInRow(withEmpty, "doc_id", "text",
      graft.text.Unigram.vocabToMap(vocab), maxPieceLen = 2)
      .where($"doc_id" === 4L).isEmpty)
    // bound enforced
    intercept[IllegalArgumentException] {
      graft.text.Unigram.encodeStatsInRow(docs, "doc_id", "text",
        Map.empty[String, Double], maxPieceLen = 2)
    }
  }

}
