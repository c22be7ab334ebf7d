package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes `pins.tsv`: the row count and content digest of every registry
  * entry over the benchmark's generated tables. Entries without an oracle
  * query are approximate and pinned by row count only (digest `-`).
  *
  * It also dumps each result and `oracle_sql.json` the way `graft.Verify`
  * does, so the pins can be checked first with
  * `python3 tools/oracle_check.py <work>/data <work>/verify`.
  *
  * Usage: perfbench.Pins <work dir> <pins.tsv>
  */
object Pins {
  def main(args: Array[String]): Unit = {
    val Array(workArg, pinsPath) = args
    val work = Paths.get(workArg).toAbsolutePath
    val spark = Harness.session(Runtime.getRuntime.availableProcessors(), work)
    spark.sparkContext.setLogLevel("ERROR")
    val data = work.resolve("data").toString
    val verify = work.resolve("verify").toString
    Data.write(spark, data)
    val oracles = SparkEntry.oracleSql
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, data)
      val rows = df.count()
      val digest = if (oracles.contains(name)) Digest(df)._2 else "-"
      df.coalesce(1).write.mode("overwrite").parquet(s"$verify/$name")
      println(f"[pins] $name%-44s rows=$rows%8d ${(System.nanoTime() - t0) / 1e9}%.2fs")
      s"$name\t$rows\t$digest"
    }
    Files.writeString(Paths.get(verify, "oracle_sql.json"),
      Json.obj(oracles.toSeq.sorted.map { case (k, v) => k -> v }).text)
    Files.writeString(Paths.get(pinsPath),
      ("# entry\trows\tdigest (perfbench.Pins; tables: perfbench.Data seed 42, scale 0.01)" +: lines)
        .mkString("", "\n", "\n"))
    spark.stop()
  }
}
