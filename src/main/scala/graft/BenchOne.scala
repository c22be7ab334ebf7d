package graft

/** Dev utility: time specific queries repeatedly, in one warm JVM, to
  * evaluate plan changes without whole-suite noise.
  * Usage: runMain graft.BenchOne <sfDir> <reps> <query>...
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val spark = DriverSession()
    spark.range(1000).selectExpr("sum(id)").collect()
    for (name <- names; r <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[benchone] $name rep$r ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
    }
    spark.stop()
  }
}
