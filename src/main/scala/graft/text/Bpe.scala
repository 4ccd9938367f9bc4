package graft.text

import graft.core.{Caches, Pinned, Round, Rounds}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Distributed BPE merge learning (Sennrich et al. 2016, word-level
  * byte-pair encoding) — training the tokenizer IS a corpus-scale
  * aggregation problem, and this expresses it as one: a single
  * corpus-sized pass builds the distinct-word frequency table, and
  * every merge round after that runs on the VOCABULARY (pair counting
  * = explode + weighted groupBy over Σ|word| symbols; argmax = a
  * min-struct aggregate; the merge itself = an in-row greedy fold via
  * `aggregate`, whole-stage codegen'd). Driver state is the merge table
  * (one best pair per round, O(merges) — model state, the
  * ClusterOps-centers precedent) — and every round's
  * arithmetic is deterministic (ties broken lexicographically), so the
  * whole training run is SQL-oracle-able round for round.
  */
object Bpe {

  /** Learn `merges` merge operations from a whitespace-tokenized
    * corpus. Returns (merge_round, pair, pcnt): the rank-r merge and
    * the weighted count that won it — exactly what a BPE tokenizer
    * exports as its merges file.
    *
    * The greedy in-row merge matches reference BPE: left-to-right,
    * non-overlapping ("a a" applied to `aaaa` → [aa, aa], not three
    * overlapping merges), which the fold gets for free — after a
    * merge the accumulator's tail is the MERGED symbol, which no
    * longer equals the pair's left side (string identity, the
    * standard BPE convention).
    */
  def learnMerges(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1, s"merges=$merges must be positive")
    mergeRounds(wordTable(docs, textCol), merges)
  }

  /** Learn merges up to a TARGET VOCABULARY SIZE — the stopping rule
    * real tokenizer training uses (HuggingFace/sentencepiece style):
    * vocab = base alphabet + one new symbol per merge, so the round
    * count is `targetVocab − |alphabet|`, not a caller-guessed merge
    * count. The alphabet size is a distinct-count over the VOCABULARY's
    * symbols (alphabet-scale, one tiny job — model state, the
    * ClusterOps-centers precedent). Each row carries `alphabet_size`
    * and the running `vocab_size` after its merge, so the cap is
    * visible in the output: max(vocab_size) == targetVocab (or less if
    * the corpus exhausts its pairs first — the standard early stop).
    *
    * Convention note: a merge whose concat collides with an existing
    * symbol would make true vocab one smaller; like the reference
    * trainers, the count here is the alphabet+merges convention.
    */
  def learnMergesToVocab(docs: DataFrame, textCol: String,
                         targetVocab: Int): DataFrame = {
    val words = wordTable(docs, textCol)
    val alphabetSize = words.df
      .select(explode(col("syms")).as("ch")).agg(countDistinct(col("ch")))
      .head().getLong(0)
    if (targetVocab <= alphabetSize) words.free(blocking = true)
    require(targetVocab > alphabetSize,
      s"targetVocab=$targetVocab must exceed the base alphabet " +
        s"($alphabetSize symbols) — there is nothing to merge below it")
    mergeRounds(words, (targetVocab - alphabetSize).toInt)
      .withColumn("alphabet_size", lit(alphabetSize))
      .withColumn("vocab_size", lit(alphabetSize) + col("merge_round"))
  }

  /** Distinct-word frequency table with initial per-character symbol
    * arrays — the one corpus-sized pass both trainers share, pinned.
    * The RESULT is vocabulary-sized (post-aggregation, orders of
    * magnitude below the corpus), so it and the per-round merge frames
    * below are local checkpoints within the r9 durability criterion: a
    * lost block re-runs a vocab-scale job, and the per-round truncation
    * is what keeps the `merges`-deep fold plan flat.
    */
  private def wordTable(docs: DataFrame, textCol: String): Pinned =
    Caches.pin(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), split(col("w"), "").as("syms")), Level)

  /** Runs the merge rounds on [[Rounds]] from `words` (round 0, freed
    * once round 1 exists). Each round reads its best pair to the driver
    * — the argmax by (count desc, pair asc) as one combinable aggregate
    * — and folds it into every word with the pair as literals. Rounds
    * stop EARLY when the vocabulary runs out of adjacent pairs (every
    * word a single symbol): the global argmin over an empty pairs frame
    * is one null row, so the merge table simply has fewer than `merges`
    * rows, never a null row. The table is driver state, returned as a
    * local frame.
    */
  private def mergeRounds(words: Pinned, merges: Int): DataFrame = {
    val table = scala.collection.mutable.ArrayBuffer.empty[Row]
    val (last, _) = Rounds.run(words, Level, merges) { cur =>
      val best = cur.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("pcnt"))
        .agg(min(struct((-col("pcnt")).as("n"), col("pair").as("p"))))
        .head()
      if (best.isNullAt(0)) None
      else {
        val m = best.getStruct(0)
        val Array(px, py) = m.getString(1).split(" ", -1).take(2)
        table += Row(table.size + 1, s"$px $py", -m.getLong(0))
        Some(Round(foldMerges(cur, Seq((px, py)))))
      }
    }
    last.free(blocking = true)
    require(table.nonEmpty,
      "learnMerges: corpus has no adjacent symbol pairs at all")
    words.df.sparkSession.createDataFrame(table.asJava, StructType(Seq(
      StructField("merge_round", IntegerType, nullable = false),
      StructField("pair", StringType),
      StructField("pcnt", LongType))))
  }

  /** Vocabulary-scale frames: the word table and every merge round. */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Apply a LEARNED merge table to a corpus — the tokenizer's encode
    * side. `merges` (in learned priority order) is driver-held MODEL
    * state, O(M) pairs — the ClusterOps-centers precedent — compiled
    * into M chained in-row folds. Encoding happens once per DISTINCT
    * word (the vocabulary), then documents join the encoded vocab:
    * corpus cost is one explode + one vocabulary join, not M folds per
    * token instance. Returns per-doc (n_words, n_tokens_bpe) — the
    * compression the learned merges actually deliver.
    */
  def applyMerges(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    val enc = foldMerges(
      docs.select(explode(split(col(textCol), " ")).as("w"))
        .where(length(col("w")) > 0).distinct()
        .withColumn("syms", split(col("w"), "")),
      merges)
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(enc.select(col("w"), size(col("syms")).as("_ntok")), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_ntok")).as("n_tokens_bpe"))
  }

  /** Encode with BYTE-LEVEL FALLBACK — the OOV robustness rule real
    * tokenizers need: a character absent from the training `alphabet`
    * decomposes into one `<0xHH>` symbol per UTF-8 byte (the GPT-2
    * byte-fallback shape), so NO input can fail to encode. Known
    * characters keep the char-symbol path bit-identical to
    * [[applyMerges]]; `alphabet` is model state alongside `merges`
    * (O(alphabet) driver strings, collected once at train time). The
    * decomposition is in-row string arithmetic over hex(encode(c)) —
    * codegen'd, engine-portable (both engines print uppercase hex) —
    * and byte symbols flow through the same merge folds (learned pairs
    * are alphabet-only, so they never match byte symbols). Output adds
    * `n_byte_tokens`: how many final tokens are byte-fallback symbols,
    * the OOV exposure a data pipeline alerts on.
    */
  def applyMergesWithFallback(docs: DataFrame, idCol: String,
                              textCol: String,
                              merges: Seq[(String, String)],
                              alphabet: Seq[String]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    require(alphabet.nonEmpty, "empty alphabet")
    val enc = foldMerges(
      docs.select(explode(split(col(textCol), " ")).as("w"))
        .where(length(col("w")) > 0).distinct()
        .withColumn("_alpha", array(alphabet.map(lit): _*))
        .withColumn("syms", expr(
          """flatten(transform(split(w, ''), c -> CASE
            |  WHEN array_contains(_alpha, c) THEN array(c)
            |  ELSE transform(sequence(1, length(encode(c, 'utf-8'))),
            |    i -> concat('<0x',
            |      substring(hex(encode(c, 'utf-8')), 2 * i - 1, 2), '>'))
            |  END))""".stripMargin))
        .drop("_alpha"),
      merges)
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(enc.select(col("w"), size(col("syms")).as("_ntok"),
        expr("size(filter(syms, s -> s LIKE '<0x%'))").as("_nbyte")), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_ntok")).as("n_tokens_bpe"),
        sum(col("_nbyte")).as("n_byte_tokens"))
  }

  /** The M chained in-row greedy folds shared by both encode paths.
    * Each pair rides as literal COLUMNS, not interpolated SQL text —
    * learnMerges emits whatever symbols the corpus contains
    * (punctuation, non-ASCII), and lit() is injection-free for all of
    * them.
    */
  private def foldMerges(encIn: DataFrame,
                         merges: Seq[(String, String)]): DataFrame = {
    var enc = encIn
    merges.foreach { case (x, y) =>
      enc = enc
        .withColumn("_px", lit(x)).withColumn("_py", lit(y))
        .withColumn("syms", expr(
          """aggregate(syms, cast(array() as array<string>),
            |  (acc, s) -> CASE
            |    WHEN size(acc) = 0 THEN array(s)
            |    WHEN element_at(acc, -1) = _px AND s = _py
            |      THEN concat(slice(acc, 1, size(acc) - 1),
            |                  array(concat(_px, _py)))
            |    ELSE concat(acc, array(s)) END)""".stripMargin))
        .drop("_px", "_py")
    }
    enc
  }
}
