package graft

/** Dev utility: dump the formatted physical plan of one or all queries —
  * the feedback loop for pushdown/broadcast/shuffle auditing.
  * Usage: runMain graft.ExplainAll <sfDir> [queryName...]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = DriverSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
