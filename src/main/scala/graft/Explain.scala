package graft

/** Dev tool: print formatted physical plans for selected queries (plan
  * hygiene audit — pushdown, broadcast, codegen spans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // The bench's data and session (r21): plans are judged against the
    // bench's session, so the explain session must plan with the same
    // core count / shuffle partitions or exchange shapes drift.
    val sfDir = Bench.sfDir
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        println(s"\n===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
