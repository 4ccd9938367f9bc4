package org.apache.spark.rdd

/** The package-private Spark API the engine needs to free blocks,
  * reached from Spark's own package the way library shims reach
  * `Dataset.apply`. Only [[graft.core.Caches]] calls it.
  */
object GraftBlocks {

  /** `rdd.unpersist(blocking)` without its truncated-lineage WARN. A
    * locally checkpointed RDD's blocks are removed through
    * `SparkContext.unpersistRDD`, the call `RDD.unpersist` makes after
    * logging; every other RDD goes through `RDD.unpersist` unchanged.
    */
  def unpersist(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking): Unit
}
