package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 3: dataset profiling and distribution
  * repair — the "look before you train" steps of a curation pipeline.
  */
object Pipeline3 {

  /** Column profiler (the SUMMARIZE / ANALYZE TABLE analog): one
    * long-form row per column with null count, distinct count, and
    * min/max (numeric columns as doubles — exact data values, so
    * engine-portable; string/date columns via their total order).
    * Shape: one aggregate per column unioned — on columnar storage
    * each branch scans ONLY its column (ReadSchema pruning), so total
    * IO equals a single all-column pass, and each branch is a
    * shuffle-free partial+final global aggregate.
    */
  def profile(s: SparkSession, d: String): DataFrame = {
    val t = orders(s, d)
    def num(c: String): DataFrame = t.agg(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      (count(lit(1)) - count(col(c))).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      min(col(c)).cast("double").as("min_num"),
      max(col(c)).cast("double").as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
    def str(c: String, toS: Column => Column = identity): DataFrame = t.agg(
      lit(c).as("col_name"), count(lit(1)).as("n"),
      (count(lit(1)) - count(col(c))).as("n_null"),
      countDistinct(col(c)).as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      toS(min(col(c))).cast("string").as("min_str"),
      toS(max(col(c))).cast("string").as("max_str"))
    Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
        str("o_orderstatus"), str("o_orderpriority"),
        str("o_orderdate", c => date_format(c, "yyyy-MM-dd HH:mm:ss")))
      .reduce(_ unionAll _)
      .orderBy(col("col_name"))
  }

  val profileOracle: String = {
    def num(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         | count(*) - count($c) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
         | CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    def str(c: String, fmt: String => String = identity) =
      s"""SELECT '$c' AS col_name, count(*) AS n,
         | count(*) - count($c) AS n_null,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         | CAST(${fmt(s"min($c)")} AS VARCHAR) AS min_str,
         | CAST(${fmt(s"max($c)")} AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    Seq(num("o_orderkey"), num("o_custkey"), num("o_totalprice"),
        str("o_orderstatus"), str("o_orderpriority"),
        str("o_orderdate", e => s"strftime($e, '%Y-%m-%d %H:%M:%S')"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Winsorization: clip a heavy-tailed metric to its [p05, p95]
    * band. The band is a 1-row exact-percentile aggregate broadcast
    * against the scan (same two-pass shape at any scale); clipping is
    * a codegen'd least/greatest. Exact interpolated percentiles match
    * DuckDB's quantile_cont (proven by q25); the rounded output
    * absorbs any last-ULP interpolation difference.
    */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val b = orders(s, d).agg(
      percentile(col("o_totalprice"), lit(0.05)).as("lo"),
      percentile(col("o_totalprice"), lit(0.95)).as("hi"))
    orders(s, d).filter(col("o_orderkey") <= 2000)
      .crossJoin(broadcast(b))
      .select(col("o_orderkey"),
        round(least(greatest(col("o_totalprice"), col("lo")), col("hi")), 2).as("v_w"),
        round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"))
      .orderBy(col("o_orderkey"))
  }

  val winsorizeOracle: String =
    """WITH b AS (
      |  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
      |         quantile_cont(o_totalprice, 0.95) AS hi
      |  FROM orders)
      |SELECT o_orderkey,
      |       round(least(greatest(o_totalprice, lo), hi), 2) AS v_w,
      |       round(lo, 2) AS lo, round(hi, 2) AS hi
      |FROM orders, b WHERE o_orderkey <= 2000
      |ORDER BY o_orderkey""".stripMargin

  /** Per-vector symmetric int8 quantization — the compression step in
    * front of an ANN index (4× smaller than float32, SIMD-friendly
    * dot products). scale = 127/max|x|; elements are floor-quantized
    * (floor, not round: floor of an IEEE product is bit-deterministic
    * on any engine). Emitted as a per-vector checksum + params rather
    * than the raw int8 array so the oracle comparison stays scalar.
    * Purely map-side — no shuffle, embeddings never leave their
    * partition.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    embeddings(s, d).filter(col("vec_id") < 500)
      .withColumn("scale",
        lit(127.0) / aggregate(transform(col("embedding"), x => abs(x)),
          lit(0.0d), (acc, x) => greatest(acc, x.cast("double"))))
      .select(col("vec_id"),
        floor(col("scale") * 10000).cast("long").as("scale_q"),
        aggregate(transform(col("embedding"),
            x => floor(x.cast("double") * col("scale")).cast("long")),
          lit(0L), (acc, x) => acc + x).as("qsum"),
        size(col("embedding")).as("dim"))
      .orderBy(col("vec_id"))
  }

  val embedQuantizeOracle: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |         127.0 / list_aggregate(list_transform(embedding,
      |                  x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
      |  FROM embeddings WHERE vec_id < 500)
      |SELECT vec_id,
      |       CAST(floor(scale * 10000) AS BIGINT) AS scale_q,
      |       CAST(list_sum(list_transform(embedding,
      |              x -> CAST(floor(CAST(x AS DOUBLE) * scale) AS BIGINT))) AS BIGINT) AS qsum,
      |       CAST(len(embedding) AS INTEGER) AS dim
      |FROM s ORDER BY vec_id""".stripMargin

  /** Canonical survivor selection — the step AFTER duplicate grouping:
    * per fingerprint group, keep the best document (longest, ties to
    * lowest id) and report the group size. One shuffle on the
    * fingerprint; rank + group-count share the same window partition,
    * so there is no second aggregate-join pass. (p01/p02 keep min-id;
    * this is the quality-aware variant real curation pipelines use.)
    */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"),
      graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
    docs
      .withColumn("rn", row_number().over(
        w.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("n_copies", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"), col("n_chars"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepBestOracle: String =
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |         md5(array_to_string(list_sort(list_distinct(
      |           string_split(text, ' '))), ' ')) AS fp
      |  FROM documents),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY fp
      |           ORDER BY n_chars DESC, doc_id) AS rn,
      |         count(*) OVER (PARTITION BY fp) AS n_copies
      |  FROM f)
      |SELECT doc_id, fp, n_chars, n_copies FROM r WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p24_profile", profile, Some(profileOracle)),
    QuerySpec("p25_winsorize", winsorize, Some(winsorizeOracle)),
    QuerySpec("p26_embed_quantize", embedQuantize, Some(embedQuantizeOracle)),
    QuerySpec("p28_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestOracle)),
  )
}
