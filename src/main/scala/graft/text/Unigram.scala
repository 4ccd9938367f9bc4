package graft.text

import graft.core.Caches
import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** SentencePiece-style UNIGRAM-LM tokenizer (Kudo 2018) — the other
  * tokenizer family a data pipeline meets next to [[Bpe]] — trained as
  * relational algebra with deterministic VITERBI (hard-EM) rounds so
  * the whole run is SQL-oracle-able round for round:
  *
  *  1. seed: all substrings (length <= `maxPieceLen`) of the distinct
  *     words, occurrence-weighted; keep every single character plus the
  *     top-`seedMultiTopK` multi-character pieces (two-phase salted
  *     top-K — the vocabulary-rank shape is never one global sort);
  *  2. each EM round Viterbi-segments every DISTINCT word under the
  *     current piece log-probs (an in-row DP fold over positions — the
  *     [[Bpe]] discipline: corpus-sized work happens once in the word
  *     table, every round is vocabulary-scale), then re-estimates
  *     piece probabilities from the segmentation counts (+1 smoothing
  *     keeps single characters alive, so every word stays encodable);
  *  3. prune to `vocabSize`: all single characters + the top remaining
  *     multi-character pieces, re-normalized.
  *
  * Every choice is deterministic: piece log-probs round to 6 decimals
  * BEFORE the DP (so both engines add identical doubles in identical
  * order), the DP tie-break is total ((score DESC, piece-count ASC,
  * segmentation-string ASC)), and the EM round count is fixed.
  *
  * 100 TB shape: ONE corpus pass builds the word-frequency table;
  * seeding, every EM round, and encoding run on the vocabulary (words
  * x <= |w|·maxPieceLen candidate rows). Encoding documents is one
  * vocabulary join (encode each distinct word once, then join docs —
  * the [[Bpe.applyMerges]] pattern). Per-round vocab frames are
  * model state (<= alphabet + seedMultiTopK rows), collected to the
  * driver each round; only the word table is pinned.
  */
object Unigram {

  /** The in-row Viterbi fold: best segmentation of `w` given `cands`
    * (structs (e, l, lp, piece): a piece of length l ending at 1-based
    * position e with log-prob lp). Returns struct (s: total log-prob,
    * np: piece count, seg: chr(31)-separated pieces, m: exact
    * micro-nat total — integer arithmetic, so per-doc sums are
    * order-independent). Positions with no candidate (a character
    * outside the vocab alphabet) poison the score to <= -1e18: callers
    * needing OOV robustness decompose via [[Bpe.applyMergesWithFallback]]
    * first. The candidate transform and the merge CASE are the SAME
    * text both engines' oracles replay.
    */
  private def vitFold(w: String, cands: String): String =
    s"""element_at(
      |  aggregate(sequence(1, length($w)),
      |    array(named_struct('s', CAST(0.0 AS DOUBLE), 'np', 0,
      |      'seg', '', 'm', CAST(0 AS BIGINT))),
      |    (acc, i) -> concat(acc, array(
      |      aggregate(
      |        transform(filter($cands, c -> c.e = i), c ->
      |          named_struct(
      |            's', element_at(acc, i - c.l + 1).s + c.lp,
      |            'np', element_at(acc, i - c.l + 1).np + 1,
      |            'seg', concat(element_at(acc, i - c.l + 1).seg,
      |              chr(31), c.piece),
      |            'm', element_at(acc, i - c.l + 1).m +
      |              CAST(round(c.lp * 1e6, 0) AS BIGINT))),
      |        named_struct('s', CAST(-1e18 AS DOUBLE), 'np', 0,
      |          'seg', '', 'm', CAST(0 AS BIGINT)),
      |        (b, d) -> CASE WHEN d.s > b.s OR (d.s = b.s AND
      |            (d.np < b.np OR (d.np = b.np AND d.seg < b.seg)))
      |          THEN d ELSE b END)))),
      |  -1)""".stripMargin

  private val vitExpr: String = vitFold("w", "cands")

  /** Distinct-word frequency table — the one corpus-sized pass. */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Per-word candidate arrays under `vocab` (piece, lp), then the
    * Viterbi fold. Output: (w, cnt, best struct).
    */
  private def viterbi(words: DataFrame, vocab: DataFrame,
                      maxPieceLen: Int): DataFrame =
    words
      .select(col("w"), col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), e ->
           |  transform(sequence(1, least($maxPieceLen, e)), l ->
           |    named_struct('e', e, 'l', l,
           |      'piece', substring(w, e - l + 1, l)))))""".stripMargin))
        .as("c"))
      .select(col("w"), col("cnt"), col("c.e").as("e"), col("c.l").as("l"),
        col("c.piece").as("piece"))
      .join(vocab.select(col("piece"), col("lp")), "piece")
      .groupBy(col("w"), col("cnt"))
      .agg(expr("sort_array(collect_list(" +
        "named_struct('e', e, 'l', l, 'lp', lp, 'piece', piece)))")
        .as("cands"))
      .withColumn("best", expr(vitExpr))

  /** Normalize (piece, pcnt) to (piece, pcnt, lp = round(ln(share), 6)). */
  private def normalized(sel: DataFrame): DataFrame = {
    val tot = sel.agg(sum(col("pcnt")).as("_t"))
    sel.crossJoin(broadcast(tot))
      .select(col("piece"), col("pcnt"),
        (round(log(col("pcnt") / col("_t")), 6) + lit(0.0)).as("lp"))
  }

  /** Seed vocabulary: every single char + two-phase top-K multi-char
    * substrings by (occurrence-weighted count DESC, piece ASC).
    */
  private def seedVocab(words: DataFrame, maxPieceLen: Int,
                        seedMultiTopK: Int): DataFrame = {
    val subs = words
      .select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), e ->
           |  transform(sequence(1, least($maxPieceLen, e)), l ->
           |    substring(w, e - l + 1, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("pcnt"))
    val chars = subs.where(length(col("piece")) === 1)
    // two-phase salted top-K (the r17 cv-grid lesson: a candidate-piece
    // table is vocabulary-sized x maxPieceLen — never one global sort)
    val w1 = Window.partitionBy(col("_salt"))
      .orderBy(col("pcnt").desc, col("piece"))
    val w2 = Window.orderBy(col("pcnt").desc, col("piece"))
    val topMulti = subs.where(length(col("piece")) >= 2)
      .withColumn("_salt",
        pmod(GraftFunctions.md5Long(col("piece"), 8), lit(32)))
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= seedMultiTopK)
      .withColumn("_r2", row_number().over(w2))
      .where(col("_r2") <= seedMultiTopK)
      .drop("_salt", "_r1", "_r2")
    normalized(chars.unionByName(topMulti))
  }

  /** One Viterbi-EM round: segment every distinct word, recount piece
    * usage (word-count-weighted), +1 smoothing for single chars, drop
    * unused multi-char pieces, re-normalize.
    */
  private def emRound(words: DataFrame, vocab: DataFrame,
                      maxPieceLen: Int): DataFrame = {
    val used = viterbi(words, vocab, maxPieceLen)
      .select(col("cnt"), explode(expr(
        "filter(split(best.seg, chr(31)), p -> length(p) > 0)"))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("_used"))
    val recounted = vocab.select(col("piece"))
      .join(used, Seq("piece"), "left")
      .withColumn("pcnt", coalesce(col("_used"), lit(0L)) +
        when(length(col("piece")) === 1, lit(1L)).otherwise(lit(0L)))
      .where(col("pcnt") > 0)
      .select(col("piece"), col("pcnt"))
    normalized(recounted)
  }

  /** Train: returns the final vocabulary (piece, pcnt, lp), all single
    * characters retained, multi-char pieces capped so the total is at
    * most `vocabSize`.
    */
  def learn(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
            seedMultiTopK: Int = 64, emRounds: Int = 2,
            vocabSize: Int = 4096): DataFrame = {
    require(maxPieceLen >= 2, s"maxPieceLen=$maxPieceLen must be >= 2")
    require(emRounds >= 1, s"emRounds=$emRounds must be >= 1")
    // the word table is read by the seed and every EM round: pinned for
    // the loop, freed after it
    val words = Caches.pin(wordTable(docs, textCol),
      StorageLevel.MEMORY_AND_DISK)
    // per-round vocab frames are <= |alphabet| + seedMultiTopK rows —
    // model state, collected to the driver each round as a local frame
    def local(v: DataFrame): DataFrame =
      v.sparkSession.createDataFrame(v.collect().toSeq.asJava, v.schema)
    var vocab = local(seedVocab(words.df, maxPieceLen, seedMultiTopK))
    (1 to emRounds).foreach { _ =>
      vocab = local(emRound(words.df, vocab, maxPieceLen))
    }
    words.free(blocking = true)
    val chars = vocab.where(length(col("piece")) === 1)
    // alphabet-scale driver read (the Bpe.learnMergesToVocab precedent)
    val nChars = chars.count()
    require(vocabSize > nChars,
      s"vocabSize=$vocabSize must exceed the alphabet ($nChars chars)")
    // the post-EM vocab is already seed-bounded, so this window runs on
    // a model-scale frame, not a corpus-derived one
    val wTop = Window.orderBy(col("pcnt").desc, col("piece"))
    val multi = vocab.where(length(col("piece")) >= 2)
      .withColumn("_r", row_number().over(wTop))
      .where(col("_r") <= (vocabSize - nChars).toInt)
      .drop("_r")
    normalized(chars.unionByName(multi).select(col("piece"), col("pcnt")))
  }

  /** Encode: Viterbi-segment each DISTINCT word under a learned vocab,
    * then join documents — per-doc (n_words, n_tokens_uni, score_mnat),
    * score in exact integer micro-nats (order-independent sums).
    */
  /** In-row encode twin of [[encodeStats]]: the whole Viterbi DP as one
    * stateless Column over the document row — no distinct-word dedup,
    * no joins, no shuffle; the vocabulary rides along as a BOUNDED map
    * literal (driver-held model params, the curation-weights pattern;
    * the r16-ADVICE lesson: enforce the bound, don't state it). Same
    * DP, same tie-break, same rounded log-probs => bit-identical stats
    * to the batch path (spec-pinned). This is the STREAMING shape —
    * zero stream state, append-mode safe — and the right batch shape
    * when distinct-words ≈ corpus so dedup buys nothing. Docs with no
    * words are dropped, matching the batch join semantics.
    */
  def encodeStatsInRow(docs: DataFrame, idCol: String, textCol: String,
                       vocab: Map[String, Double],
                       maxPieceLen: Int = 4): DataFrame = {
    require(vocab.nonEmpty && vocab.size <= 65536,
      s"vocab size ${vocab.size} outside (0, 65536] — the in-row map " +
        "literal is for model-scale vocabularies")
    val cands =
      s"""filter(flatten(transform(sequence(1, length(wv)), e ->
         |  transform(sequence(1, least($maxPieceLen, e)), l ->
         |    named_struct('e', e, 'l', l,
         |      'lp', _vmap[substring(wv, e - l + 1, l)],
         |      'piece', substring(wv, e - l + 1, l))))),
         |  k -> k.lp IS NOT NULL)""".stripMargin
    docs
      .withColumn("_vmap", typedLit(vocab))
      .withColumn("_words",
        expr(s"filter(split($textCol, ' '), x -> length(x) > 0)"))
      .where(size(col("_words")) > 0)
      .select(col(idCol),
        size(col("_words")).cast("long").as("n_words"),
        expr(s"""aggregate(
          |  transform(_words, wv -> ${vitFold("wv", cands)}),
          |  named_struct('nt', CAST(0 AS BIGINT), 'm', CAST(0 AS BIGINT)),
          |  (a, bst) -> named_struct('nt', a.nt + bst.np,
          |    'm', a.m + bst.m))""".stripMargin).as("_agg"))
      .select(col(idCol), col("n_words"),
        col("_agg.nt").as("n_tokens_uni"), col("_agg.m").as("score_mnat"))
  }

  /** Collect a learned vocab frame to the driver-held map
    * [[encodeStatsInRow]] takes — model-scale by the [[learn]] contract.
    */
  def vocabToMap(vocab: DataFrame): Map[String, Double] =
    vocab.select(col("piece"), col("lp")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .distinct()
      .withColumn("cnt", lit(1L))
    val enc = viterbi(words, vocab, maxPieceLen)
      .select(col("w"), col("best.np").as("_ntok"), col("best.m").as("_m"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(enc, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_ntok")).cast("long").as("n_tokens_uni"),
        sum(col("_m")).as("score_mnat"))
  }
}
