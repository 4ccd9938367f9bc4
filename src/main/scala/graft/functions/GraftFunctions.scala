package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks shared across operators.
  *
  * Design rule: every helper here is (a) pure `org.apache.spark.sql.functions`
  * composition — so it stays inside whole-stage codegen, no UDFs — and
  * (b) has an exact ANSI-SQL mirror runnable by DuckDB, which is what makes
  * the driver's oracle comparison possible for hashing-based operators
  * (MinHash, SimHash, fingerprints).
  *
  * Hashing note: the reference (sparkit-learn `HashingVectorizer`,
  * `splearn/feature_extraction/text.py:~L150`) uses murmur3 via sklearn;
  * bit-compat with sklearn is a non-goal (SURVEY §7 hard-parts). We define
  * hashing on md5 prefixes instead: deterministic, available identically in
  * Spark (`md5`/`conv`) and DuckDB (`md5`/hex cast), and uniform enough for
  * bucketing/minhash at any scale.
  */
object GraftFunctions {

  /** Whitespace tokenizer matching the corpus contract (single-space text).
    * DuckDB mirror: `string_split(text, ' ')`.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** md5 prefix as an unsigned integer in [0, 16^nHex).
    * DuckDB mirror: `('0x' || substr(md5(x),1,n))::BIGINT`.
    * nHex <= 15 keeps the value inside a signed Long.
    */
  def md5Long(c: Column, nHex: Int): Column =
    conv(substring(md5(c), 1, nHex), 16, 10).cast("long")

  /** Seeded 32-bit hash for minhash families: hash_i(x) = md5Long(seed_i||x).
    * One seed per hash function gives an independent-enough family.
    */
  def seededHash(c: Column, seed: Int, nHex: Int = 8): Column =
    md5Long(concat(lit(s"s$seed:"), c), nHex)

  /** Polynomial rolling hash over an array of longs (exact integer
    * arithmetic, mod 1e9+7). Folds left-to-right with the first element as
    * seed so the DuckDB 2-arg `list_reduce` mirrors it exactly.
    */
  def rollingHash(hashes: Column): Column = {
    val p = 1000000007L
    when(size(hashes) === 0, lit(null).cast("long")).otherwise(
      aggregate(
        slice(hashes, lit(2), greatest(size(hashes) - 1, lit(0))),
        element_at(hashes, 1),
        (acc, h) => pmod(acc * lit(31L) + h, lit(p))
      ))
  }

  /** Dot product of two equal-length numeric arrays, summed in index order
    * (stable across engines). DuckDB mirror: `list_dot_product`.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Squared euclidean distance between two arrays. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** Unit-normalized copy of a numeric array (computed once per row). */
  def unitize(a: Column): Column = {
    val d = a.cast("array<double>")
    transform(d, x => x / sqrt(aggregate(
      transform(d, v => v * v), lit(0.0), (acc, v) => acc + v)))
  }
}
