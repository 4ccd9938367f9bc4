package graft.mlops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Long-form points packed one row per point: the analogue of the
  * reference's `SparseRDD` blocks (`splearn/rdd.py:~L420-480`). An
  * iterated estimator reads its lazy input once into this form, then runs
  * every round as one pass over it and merges O(model) per-task partials
  * on the driver (`treeReduce`, SURVEY D7).
  */
private[mlops] object PointPack {

  /** `pointsLong` (keys…, dim, v) as one row per `keys` group: the key
    * columns, then `dims: array<bigint>` and `vs: array<double>` in
    * matching order. `dim` must be integral. A null `v` carries no
    * coordinate, as it adds nothing to a sum or an average over the long
    * form.
    */
  def pack(pointsLong: DataFrame, keys: Seq[String]): DataFrame = {
    val present = "filter(_e, e -> e.v IS NOT NULL)"
    pointsLong.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("dim").cast("long").as("d"),
        col("v").cast("double").as("v"))).as("_e"))
      .select(keys.map(col) ++ Seq(
        expr(s"transform($present, e -> e.d)").as("dims"),
        expr(s"transform($present, e -> e.v)").as("vs")): _*)
  }

  /** Runs `f` over `packed` persisted MEMORY_AND_DISK and removes the
    * blocks when `f` returns. A persist keeps its lineage, so a lost
    * block recomputes. `f`'s result must not read `packed`.
    */
  def fit[A](packed: DataFrame)(f: DataFrame => A): A = {
    val p = packed.persist(StorageLevel.MEMORY_AND_DISK)
    try f(p) finally p.unpersist(blocking = false)
  }

  /** Merges keyed (Σ, n) partials into `a`: a round's `treeAggregate`
    * combiner.
    */
  def mergeSums[K](a: mutable.HashMap[K, Array[Double]],
                   b: mutable.HashMap[K, Array[Double]])
      : mutable.HashMap[K, Array[Double]] = {
    b.foreach { case (k, s) =>
      val t = a.getOrElseUpdate(k, new Array[Double](2))
      t(0) += s(0); t(1) += s(1)
    }
    a
  }

  def dims(r: Row, i: Int): Array[Long] = r.getSeq[Long](i).toArray
  def vs(r: Row, i: Int): Array[Double] = r.getSeq[Double](i).toArray
}
