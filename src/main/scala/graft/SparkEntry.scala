package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-style pricing summary: scan→filter→partial/final agg→sort,
    * the engine's bread-and-butter pipeline.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every registered entry, each declared once in its operator object. */
  val registry: Seq[QuerySpec] = {
    import operators._
    Seq(Relational.specs, Relational2.specs, Relational3.specs,
      Relational4.specs, Relational5.specs, Relational6.specs,
      Relational7.specs, Relational8.specs, PipelineQueries.specs,
      Pipeline2.specs, Pipeline3.specs, Pipeline4.specs, Pipeline5.specs,
      Pipeline6.specs, Pipeline7.specs, Pipeline8.specs, Pipeline9.specs,
      Pipeline10.specs, Pipeline11.specs, Pipeline12.specs,
      Pipeline13.specs, Pipeline14.specs, Pipeline15.specs,
      Pipeline16.specs, Pipeline17.specs, Pipeline18.specs).flatten
  }

  /** The contract's query map: one entry per implemented operator from
    * SURVEY.md §2, derived from [[registry]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(s => s.name -> s.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, derived from [[registry]]; the rows-only
    * entries (no SQL-expressible oracle) are absent. */
  val oracleSql: Map[String, String] =
    registry.flatMap(s => s.oracle.map(s.name -> _)).toMap
}
