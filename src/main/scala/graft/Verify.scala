package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Named queries
  * re-dump only those entries into an existing out dir, with
  * oracle_sql.json filtered to them, so `tools/oracle_check.py` can
  * re-adjudicate without the full-registry dump.
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val spark = DriverSession()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
