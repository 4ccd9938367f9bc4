package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale properties SCALE.md documents
  * must stay true as queries evolve.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("d8: predicate pushdown reaches the parquet scan") {
    val p = plan("d8_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull(lang)"), p.take(800))
    assert(p.contains("EqualTo(lang,en)"))
  }

  test("q6: predicates pushed to the scan, read schema pruned to 4 columns") {
    val p = plan("q6_revenue_filter")
    // the plan string elides long filter lists ("…"), so assert the
    // stable prefix of the pushed set plus the full predicate in the
    // Filter node, and — the stronger property — that the scan reads
    // ONLY the four referenced columns
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual("),
      p.take(800))
    assert(p.contains("(l_quantity#") && p.contains("< 24.0)"))
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp"))
  }

  test("q5: all three dimension joins are broadcast") {
    val p = plan("q5_broadcast_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("asof: single keyed window, no join blow-up") {
    val p = plan("asof_join_events_orders")
    assert(p.contains("Window"), p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("near-dup: threshold predicate executes inside the join") {
    val p = plan("dedup_embedding_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("graft_cosine"), "native expression missing from plan")
  }

  test("q1: partial+final hash aggregation") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(600))
  }

  test("bench-set policy: NO benched query plans a CartesianProduct") {
    // Mechanical enforcement of BASELINE.md's "the bench measures scale
    // paths only" — a quadratic plan re-entering benchNames fails here,
    // not in next round's verdict. Streaming artifacts are excluded
    // (building them RUNS the stream; their shapes are pinned by
    // StreamingSpec) and checked by name so an addition is a conscious
    // decision.
    val streaming = Set("l5_streaming_nb_counts", "streaming_near_dup_gate",
      "streaming_tumbling_counts")
    SparkEntry.benchNames.filterNot(streaming).foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${p.take(600)}")
    }
  }

  test("round-2 pipelines avoid cartesian shapes; model state broadcasts") {
    // cluster resolution: equi-joins only, never a cross product
    val comp = plan("dedup_pipeline_clusters")
    assert(!comp.contains("CartesianProduct") &&
      !comp.contains("BroadcastNestedLoopJoin"), comp.take(600))
    // Lloyd's rounds run at fit time over a packed input, with the
    // O(k×dims) centers broadcast to each round's one pass: the returned
    // plan is the driver-built centers, with no join and no input scan
    val lloyd = plan("c2_kmeans_lloyd")
    assert(lloyd.contains("LocalTableScan") && !lloyd.contains("Join") &&
      !lloyd.contains("CartesianProduct") && !lloyd.contains("FileScan"),
      lloyd.take(600))
    // GD runs the same way: rounds at fit time over a packed input with
    // the O(dims) weights broadcast, so l4's returned plan is the
    // driver-built weights, with no join and no input scan
    val gd = plan("l4_logreg_gd")
    assert(gd.contains("LocalTableScan") && !gd.contains("Join") &&
      !gd.contains("CartesianProduct") && !gd.contains("FileScan"),
      gd.take(600))
    // gap fill: keyed window + generator, no cartesian
    val rs = plan("resample_gapfill_events")
    assert(rs.contains("Window") && !rs.contains("CartesianProduct"),
      rs.take(600))
  }

  test("round-5 pipelines: native minhash, TakeOrdered caps, no cartesian") {
    // minhash signatures ride the native one-eval-per-shingle expression
    val sig = plan("dedup_minhash_sig")
    assert(sig.contains("graft_md5_seed_hashes"),
      "native md5 family expression missing from plan: " + sig.take(600))
    // vocab cap is TakeOrdered (distributed top-k), not a global sort of
    // the whole vocabulary
    val caps = plan("f8_countvec_caps")
    assert(caps.contains("TakeOrderedAndProject"), caps.take(800))
    // all-sources provenance clusters: equi-joins ONLY — the cosine edge
    // source is the SemDeDup cell-gated path, so no cartesian product and
    // no nested-loop join anywhere in the capstone
    val prov = plan("dedup_provenance_clusters")
    assert(!prov.contains("CartesianProduct") &&
      !prov.contains("BroadcastNestedLoopJoin"), prov.take(600))
    // the standalone cell-gated cosine near-dup: same property
    val cells = plan("dedup_embedding_cosine_cells")
    assert(!cells.contains("CartesianProduct") &&
      !cells.contains("BroadcastNestedLoopJoin"), cells.take(600))
    assert(cells.contains("graft_cosine"),
      "native cosine missing from cell-gated plan")
  }

  test("DotProductRewrite: HOF aggregate(zip_with(*)) becomes native graft_dot") {
    import org.apache.spark.sql.functions._
    graft.plans.GraftExpressions.register(spark)
    def fired(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[graft.plans.DotProduct]))
    // Scan-backed plan: a LocalRelation input is constant-folded by
    // ConvertToLocalRelation before the user optimizer batch ever runs,
    // so the rewrite must be proven against a real parquet scan. The
    // coalesce-transform makes the element type non-nullable double,
    // which is the shape the rule requires.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").selectExpr(
      "vec_id",
      "transform(embedding, x -> coalesce(cast(x as double), 0d)) as a",
      "transform(reverse(embedding), x -> coalesce(cast(x as double), 0d)) as b")
    val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), " +
      "cast(0 as double), (acc, v) -> acc + v)"
    val q = emb.select(expr(hof).as("dot"))
    assert(fired(q), "rewrite did not fire on a parquet-scan plan")
    // rewritten values match a driver-side recomputation
    emb.select(col("a"), col("b"), expr(hof).as("dot"))
      .limit(16).collect().foreach { r =>
        val exp = r.getSeq[Double](0).zip(r.getSeq[Double](1))
          .map { case (x, y) => x * y }.sum
        assert(math.abs(r.getDouble(2) - exp) < 1e-9, r.toString)
      }
    // length mismatch: the size guard keeps HOF null semantics (zip_with
    // pads with null -> multiply-add nulls out) instead of throwing
    val mism = emb.select(expr("aggregate(zip_with(a, slice(b, 1, " +
      "size(b) - 1), (x, y) -> x * y), cast(0 as double), " +
      "(acc, v) -> acc + v)").as("dot"))
    assert(fired(mism), "rewrite should fire on mismatched equal-type arrays")
    assert(mism.limit(4).collect().forall(_.isNullAt(0)),
      "guard must yield null on length mismatch, matching the HOF")
    // sum direction differs -> no rewrite (acc - v)
    val sub = emb.select(expr("aggregate(zip_with(a, b, (x, y) -> x * y), " +
      "cast(0 as double), (acc, v) -> acc - v)").as("d"))
    assert(!fired(sub))
    // nullable elements -> no rewrite (HOF null semantics must be kept)
    val nullable = spark.read.parquet(s"$sf/embeddings.parquet").selectExpr(
      "transform(embedding, x -> cast(x as double)) as a",
      "transform(embedding, x -> cast(x as double) + 1d) as b")
    val nq = nullable.select(expr(hof).as("dot"))
    assert(!fired(nq))
  }

  test("graft_cosine/graft_dot: length mismatch throws, zero norm is null") {
    import spark.implicits._
    plans.GraftExpressions.register(spark)
    // interpreted path and codegen path both enforce equal lengths
    val mismatch = intercept[Exception] {
      Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
        .selectExpr("graft_cosine(a, b)").collect()
    }
    assert(mismatch.getMessage.contains("length mismatch") ||
      Option(mismatch.getCause).exists(_.getMessage.contains("length mismatch")))
    val dotMismatch = intercept[Exception] {
      Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
        .selectExpr("graft_dot(a, b)").collect()
    }
    assert(dotMismatch.getMessage.contains("length mismatch") ||
      Option(dotMismatch.getCause).exists(_.getMessage.contains("length mismatch")))
    // zero-norm vector → SQL NULL, not NaN
    val zn = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .selectExpr("graft_cosine(a, b)").collect()
    assert(zn.head.isNullAt(0), zn.head.toString)
    // non-numeric-array input rejected at analysis time
    val bad = intercept[Exception] {
      Seq((Array("x"), Array("y"))).toDF("a", "b")
        .selectExpr("graft_cosine(a, b)").collect()
    }
    assert(bad.getMessage.toLowerCase.contains("array"), bad.getMessage)
  }

  test("graft_nearest_cells: in-row top-N matches the ranked join twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    plans.GraftExpressions.register(spark)
    // 40 points, 6 cells in 4-d; engineered exact ties (points
    // equidistant to two centers) exercise the (d2, cell) tie rule
    val rnd = new scala.util.Random(3)
    val pts = (0L until 40L).map { i =>
      (i, Array.fill(4)(rnd.nextInt(20).toDouble))
    }
    val centers = (0L until 6L).map { c =>
      (c, Array.fill(4)((c * 3).toDouble))
    }
    val emb = pts.toDF("id", "v")
    val centersLong = centers.toDF("cell", "cv")
      .select(col("cell"), posexplode(col("cv")).as(Seq("_d", "c")))
      .select(col("cell"), (col("_d") + 1).as("dim"), col("c"))
    val fast = graft.mlops.ClusterOps.assignToCentersTopN(
        emb, "id", "v", centersLong, "cell", n = 3)
      .as[(Long, Long, Long)].collect().toSet
    // the ranked long-form twin this expression replaced
    val slow = emb
      .select(col("id"), posexplode(col("v")).as(Seq("_d", "pv")))
      .select(col("id"), (col("_d") + 1).as("dim"), col("pv"))
      .join(centersLong, "dim")
      .groupBy(col("id"), col("cell"))
      .agg(sum(pow(col("pv") - col("c"), 2)).as("d2"))
      .withColumn("probe_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("d2"), col("cell"))))
      .where(col("probe_rank") <= 3)
      .select(col("id"), col("cell"), col("probe_rank").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fast === slow)
    // n beyond the cell count returns every cell, still ranked
    val all = graft.mlops.ClusterOps.assignToCentersTopN(
        emb, "id", "v", centersLong, "cell", n = 99)
      .groupBy(col("id")).agg(count(lit(1)).as("n"), max("probe_rank").as("mx"))
      .as[(Long, Long, Long)].collect()
    assert(all.forall(r => r._2 == 6L && r._3 == 6L))
    // n = 1 agrees with the single-probe native argmin
    val one = graft.mlops.ClusterOps.assignToCentersTopN(
        emb, "id", "v", centersLong, "cell", n = 1)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toMap
    val packed = centersLong.groupBy(col("cell"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
        .as("cv"))
      .agg(expr("sort_array(collect_list(struct(CAST(cell AS BIGINT)" +
        " AS cell, cv)))").as("_cells"))
    val argmin = emb.crossJoin(broadcast(packed))
      .select(col("id"),
        expr("graft_nearest_cell(CAST(v AS ARRAY<DOUBLE>), _cells)").as("cell"))
      .as[(Long, Long)].collect().toMap
    assert(one === argmin)
  }
}
