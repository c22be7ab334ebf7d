// Plan audit: prints shuffle/broadcast/scan stats per query so a
// regression in pushdown or an accidental extra exchange is visible.
// Run: sbt "runMain graft.tools.ExplainAudit q45_gapfill q46_funnel ..."
package graft.tools

object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.DriverSession()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // drive THIS DataFrame's own query execution so AQE finalizes —
      // df.count() would build a separate QueryExecution and leave this
      // plan at isFinalPlan=false (hiding runtime join strategy changes
      // and every WholeStageCodegen annotation). foreach over toRdd
      // finalizes without materializing row-proportional output on the
      // driver (a full-corpus projection would OOM a collect here).
      df.queryExecution.toRdd.foreach(_ => ())
      // the finalized AdaptiveSparkPlan prints "final +- == Initial
      // Plan ==" — count features in the final section only
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      def c(p: String) = p.r.findAllIn(plan).size
      println(f"$n%-24s exch=${c("Exchange hashpartitioning")}%2d " +
        f"sort_exch=${c("Exchange rangepartitioning")}%2d bcast=${c("BroadcastExchange")}%2d " +
        f"bnlj=${c("BroadcastNestedLoop")}%2d scans=${c("FileScan|Scan parquet")}%2d " +
        f"wsc=${"""\*\(\d+\)""".r.findAllIn(plan).toSet.size}%2d " +
        f"pushed=${c("PushedFilters: \\[[^\\]]")}%2d")
    }
    spark.stop()
  }
}
