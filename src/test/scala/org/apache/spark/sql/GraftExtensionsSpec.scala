package org.apache.spark.sql

import graft.plans.{GraftExpressions, GraftSparkExtensions}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The two ways a session gets graft's native functions — the
  * `spark.sql.extensions` plug-in and session-scoped
  * [[GraftExpressions.register]] — install the same functions. Lives in
  * Spark's package for `SparkSessionExtensions.registerFunctions`, the
  * `private[sql]` call a session builder makes to apply injected functions.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** A fresh session whose function registry holds what a session built
    * with `withExtensions(new GraftSparkExtensions)` holds.
    */
  private def extensionsSession(): SparkSession = {
    val ext = new SparkSessionExtensions
    new GraftSparkExtensions()(ext)
    val s = spark.newSession()
    ext.registerFunctions(s.sessionState.functionRegistry)
    s
  }

  test("GraftSparkExtensions injects every function register installs") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    GraftExpressions.register(bare)
    val installed = registry.listFunction().toSet -- before
    assert(installed.map(_.funcName) ===
      Set("graft_dot", "graft_cosine", "graft_l2sq", "graft_nearest_cell",
        "graft_nearest_cells", "graft_md5_seed_hashes",
        "graft_md5_prefix_long", "graft_sorted_overlap", "graft_bloom_agg",
        "graft_bloom_might_contain"))
    val injected = extensionsSession().sessionState.functionRegistry
    assert(installed.filterNot(injected.functionExists).isEmpty)
    installed.foreach { id =>
      assert(injected.lookupFunction(id).map(_.getClassName) ===
        registry.lookupFunction(id).map(_.getClassName), id)
    }
  }

  test("bloomPreFilterJoin resolves on a session built with the extensions") {
    val s = extensionsSession()
    import s.implicits._
    val fact = (1L to 20L).map(i => (i, s"f$i")).toDF("k", "v")
    val dim = Seq(3L, 7L, 30L).toDF("dk")
    val got = graft.operators.Relational
      .bloomPreFilterJoin(fact, dim, "k", "dk", expectedItems = 16L)
      .select(col("k")).as[Long].collect().sorted.toSeq
    assert(got === Seq(3L, 7L))
  }
}
