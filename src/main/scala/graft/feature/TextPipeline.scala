package graft.feature

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{CountVectorizer, IDF, Normalizer, RegexTokenizer}
import org.apache.spark.sql.DataFrame

/** spark.ml text-vectorization pipelines — the engine's equivalent of the
  * reference's `SparkCountVectorizer` / `SparkHashingVectorizer` /
  * `SparkTfidfTransformer` (`splearn/feature_extraction/text.py:~L30-270`).
  *
  * The reference built a global vocabulary by unioning per-block sklearn
  * vocabularies on the driver — unbounded driver state. Here
  * `CountVectorizer` aggregates term counts distributively and caps the
  * vocabulary (`vocabSize`), which is the 100 TB-safe contract: driver
  * memory is O(vocabSize), never O(corpus).
  *
  * The hashing vectorizer is the md5-bucket plan (`f3_hashing_tf`):
  * hash compatibility with sklearn's murmur3 is a non-goal (SURVEY §7).
  */
object TextPipeline {

  /** tokenize -> count-vectorize -> idf -> l2 normalize. */
  def tfidfPipeline(
      inputCol: String = "text",
      vocabSize: Int = 1 << 18,
      minDF: Double = 1.0): Pipeline = {
    val tok = new RegexTokenizer()
      .setInputCol(inputCol).setOutputCol("tokens")
      .setPattern("\\s+")
    val cv = new CountVectorizer()
      .setInputCol("tokens").setOutputCol("tf")
      .setVocabSize(vocabSize).setMinDF(minDF)
    val idf = new IDF().setInputCol("tf").setOutputCol("tfidf_raw")
    val norm = new Normalizer().setInputCol("tfidf_raw").setOutputCol("tfidf").setP(2.0)
    new Pipeline().setStages(Array(tok, cv, idf, norm))
  }

  def fitTfidf(docs: DataFrame, vocabSize: Int = 1 << 18): PipelineModel =
    tfidfPipeline(vocabSize = vocabSize).fit(docs)

  /** Global vocabulary with deterministic sort-based indices.
    *
    * ⚠ Scale note: `term_idx` comes from `row_number` over an
    * UNPARTITIONED window — a single-partition global sort over the
    * vocabulary. Fine for verification and vocabularies that fit one
    * executor (vocab size ≪ corpus size, typically ≤ millions of terms),
    * but for the 100 TB path use [[tfidfPipeline]] (ml
    * `CountVectorizer`), whose vocabulary is a distributed top-k count,
    * not a global sort.
    */
  def countVectorizeFit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
      .withColumn("term_idx",
        (row_number().over(Window.orderBy(col("term"))) - 1).cast("long"))
  }
}
