package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** Registration for graft's native expressions. */
object GraftExpressions {

  private type Builder = Seq[Expression] => Expression

  /** A registry entry whose builder checks the argument count. */
  private def fn(name: String, cls: Class[_ <: Expression], arity: Int)(
      make: Builder): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity,
          s"$name expects exactly $arity arguments, got ${children.size}")
        make(children)
      })

  /** Every graft SQL function: name, expression class, arity and
    * constructor. [[register]] and [[GraftSparkExtensions]] both install
    * exactly this table.
    */
  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("graft_dot", classOf[DotProduct], 2)(c => DotProduct(c(0), c(1))),
    fn("graft_cosine", classOf[CosineSimilarity], 2)(
      c => CosineSimilarity(c(0), c(1))),
    fn("graft_l2sq", classOf[L2DistSq], 2)(c => L2DistSq(c(0), c(1))),
    fn("graft_nearest_cell", classOf[NearestCell], 2)(
      c => NearestCell(c(0), c(1))),
    // (vec, cells, n)
    fn("graft_nearest_cells", classOf[NearestCellsTopN], 3)(
      c => NearestCellsTopN(c(0), c(1), c(2))),
    fn("graft_md5_seed_hashes", classOf[Md5SeedHashes], 2)(
      c => Md5SeedHashes(c(0), c(1))),
    fn("graft_md5_prefix_long", classOf[Md5PrefixLong], 2)(
      c => Md5PrefixLong(c(0), c(1))),
    // (array_a, array_b, required)
    fn("graft_sorted_overlap", classOf[SortedOverlap], 3)(
      c => SortedOverlap(c(0), c(1), c(2))),
    // Spark's OWN bloom machinery (the expressions behind the optimizer's
    // InjectRuntimeFilter), surfaced as callable functions: the built-in
    // rule only fires past multi-GB scan thresholds, so the explicit
    // operator form (operators.Relational.bloomPreFilterJoin) uses these
    // to apply the identical semi-join pruning deterministically at any
    // scale.
    // (xxhash64_value, est_items, num_bits)
    fn("graft_bloom_agg", classOf[BloomFilterAggregate], 3)(
      c => new BloomFilterAggregate(c(0), c(1), c(2))),
    // (bloom_binary, xxhash64_value)
    fn("graft_bloom_might_contain", classOf[BloomFilterMightContain], 2)(
      c => BloomFilterMightContain(c(0), c(1))))

  /** Session-scoped registration (idempotent): installs every function
    * the session does not have yet. Call before first use; on a session
    * built with [[GraftSparkExtensions]] it finds them all present.
    */
  def register(spark: SparkSession): Unit = {
    // session-scoped optimizer injection (the extensions path injects the
    // same rule at build time); idempotent by reference equality
    if (!spark.experimental.extraOptimizations.contains(DotProductRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotProductRewrite
    }
    // only missing names: re-registering logs a replacement WARN per
    // call, which floods driver logs when every query pack re-registers
    // on the same session
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Column-level accessors; require registration on the active session. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def l2sq(a: Column, b: Column): Column = call_function("graft_l2sq", a, b)
  def nearestCell(vec: Column, cells: Column): Column =
    call_function("graft_nearest_cell", vec, cells)
  def md5SeedHashes(c: Column, n: Column): Column =
    call_function("graft_md5_seed_hashes", c, n)
  def md5PrefixLong(c: Column, n: Column): Column =
    call_function("graft_md5_prefix_long", c, n)
  def bloomAgg(hashed: Column, estItems: Column, numBits: Column): Column =
    call_function("graft_bloom_agg", hashed, estItems, numBits)
  def bloomMightContain(bloom: Column, hashed: Column): Column =
    call_function("graft_bloom_might_contain", bloom, hashed)
  def sortedOverlap(a: Column, b: Column, required: Column): Column =
    call_function("graft_sorted_overlap", a, b, required)
}

/** `spark.sql.extensions`-pluggable registration — the production path:
  * `SparkSession.builder.withExtensions(new GraftSparkExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftSparkExtensions`.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotProductRewrite)
    GraftExpressions.functions.foreach(ext.injectFunction)
  }
}
