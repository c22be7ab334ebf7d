package graft

import org.apache.spark.sql.SparkSession

/** The one session the driver mains run on (`Bench`, `Verify`,
  * `BenchOne`, `ExplainAll`, `tools.JobProfile`, `tools.ExplainAudit`),
  * so every dev tool times, profiles or explains the plan `Bench`
  * prices.
  */
private[graft] object DriverSession {

  /** `Bench`'s settings at `cpus` local cores. */
  def settings(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.ui.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    // AQE right-sizing (guide §2.2): honor the advisory partition
    // size when coalescing instead of pinning every reduce stage at
    // the core count — tiny intermediate shuffles collapse to one
    // task; corpus-sized ones stay advisory-sized (64 MB default), so
    // at 100 TB nothing coalesces below the cluster's parallelism.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
  )

  /** The session at `SPARK_GRAFT_CPUS` (default 32) local cores,
    * logging at WARN.
    */
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
