package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.QuerySpec

/** Relational surface, batch 2: subqueries, pivot-style conditional
  * aggregation, array/unnest, date arithmetic, arg-max, percentiles,
  * distinct aggregation, grouping sets, regex, and the wider window
  * function family. Same oracle-parity rules as batch 1.
  */
object Relational2 {

  /** IN-subquery (planned as a left-semi join; same early-out scale
    * shape as q05 — only keys of the filtered dim are built/broadcast).
    */
  def q19InSubquery(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d).filter(col("c_mktsegment") === "BUILDING")
              .select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  val q19Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  /** Scalar subquery: rows above the global mean. The single-row
    * aggregate is broadcast (a 1-row build side) — the fact scan streams
    * once, no self-join shuffle.
    */
  def q20ScalarSubquery(s: SparkSession, d: String): DataFrame = {
    val avgBal = customer(s, d).agg(avg(col("c_acctbal")).as("a"))
    customer(s, d)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("a"))
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q20Oracle: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      |ORDER BY c_custkey""".stripMargin

  /** Pivot: order counts per status × priority as conditional aggregates
    * (the portable pivot form; Spark's .pivot() plans to exactly this).
    */
  def q21Pivot(s: SparkSession, d: String): DataFrame = {
    val pris = Seq("1-URGENT" -> "p_urgent", "2-HIGH" -> "p_high",
      "3-MEDIUM" -> "p_medium", "4-NOT SPECIFIED" -> "p_notspec", "5-LOW" -> "p_low")
    orders(s, d).groupBy(col("o_orderstatus"))
      .agg(sum(when(col("o_orderpriority") === pris.head._1, 1).otherwise(0)).as(pris.head._2),
           pris.tail.map { case (v, n) =>
             sum(when(col("o_orderpriority") === v, 1).otherwise(0)).as(n)
           }: _*)
      .orderBy(col("o_orderstatus"))
  }

  val q21Oracle: String =
    """SELECT o_orderstatus,
      | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
      | CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
      | CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
      | CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
      | CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Lateral explode with ordinality over the embedding arrays. */
  def q22Unnest(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") < 3)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .orderBy(col("vec_id"), col("pos"))

  val q22Oracle: String =
    """SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos, embedding[i] AS val
      |FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
      |WHERE vec_id < 3
      |ORDER BY vec_id, pos""".stripMargin

  /** Date/time arithmetic family (intervals, diffs, boundaries, parts).
    * Day-of-week is normalized to ISO-ish 0=Sunday on both engines.
    */
  def q23DateArith(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
        col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_ts"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_98"),
        quarter(col("o_orderdate")).as("qtr"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        last_day(col("o_orderdate").cast("date")).cast("timestamp").as("month_end"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy(col("o_orderkey"))

  val q23Oracle: String =
    """SELECT o_orderkey,
      | o_orderdate + INTERVAL 30 DAY AS due_ts,
      | datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98,
      | CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      | CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
      | CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
      | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** arg-max per group with a deterministic composite tie-break: max over
    * struct(balance, custkey) compares lexicographically in both engines, so
    * top_custkey always belongs to a row holding the group's max balance
    * (largest custkey among balance ties) — no arithmetic packing that could
    * let a huge custkey outweigh a real balance difference.
    */
  def q24ArgMax(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(max(struct(col("c_acctbal").as("bal"), col("c_custkey").as("key")))
             .getField("key").as("top_custkey"),
           round(max(col("c_acctbal")), 2).as("max_bal"),
           count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment"))

  val q24Oracle: String =
    """SELECT c_mktsegment,
      | max(struct_pack(bal := c_acctbal, key := c_custkey)).key AS top_custkey,
      | round(max(c_acctbal), 2) AS max_bal,
      | count(*) AS n
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Exact percentiles (interpolating): median + p90 per order status. */
  def q25Percentile(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy(col("o_orderstatus"))
      .agg(round(percentile(col("o_totalprice"), lit(0.5)), 2).as("median_price"),
           round(percentile(col("o_totalprice"), lit(0.9)), 2).as("p90_price"))
      .orderBy(col("o_orderstatus"))

  val q25Oracle: String =
    """SELECT o_orderstatus,
      | round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      | round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Distinct aggregation (two distinct columns in one pass + a plain
    * agg — Spark plans an expand + two-stage aggregate).
    */
  def q26DistinctAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("nd_parts"),
           countDistinct(col("l_suppkey")).as("nd_supps"),
           round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  val q26Oracle: String =
    """SELECT l_returnflag,
      | count(DISTINCT l_partkey) AS nd_parts,
      | count(DISTINCT l_suppkey) AS nd_supps,
      | round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Explicit GROUPING SETS (the general form behind rollup/cube). */
  def q27GroupingSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
                    col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
              col("n"), col("total"))
      .orderBy(col("rflag"), col("lstatus"))

  val q27Oracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rflag, coalesce(l_linestatus, 'ALL') AS lstatus,
      | count(*) AS n, round(sum(l_extendedprice), 2) AS total
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rflag, lstatus""".stripMargin

  /** Regex family: leftmost extract, strip-replace, match filter. */
  def q28Regex(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("text").rlike("st[a-z]+"))
      .select(col("doc_id"),
              regexp_extract(col("text"), "(st[a-z]+)", 1).as("first_st"),
              substring(regexp_replace(col("text"), "[aeiou]", ""), 1, 40).as("devoweled"),
              size(split(col("text"), " st")).as("st_splits"))
      .orderBy(col("doc_id"))

  val q28Oracle: String =
    """SELECT doc_id,
      | regexp_extract(text, 'st[a-z]+', 0) AS first_st,
      | substring(regexp_replace(text, '[aeiou]', '', 'g'), 1, 40) AS devoweled,
      | CAST(len(string_split_regex(text, ' st')) AS INTEGER) AS st_splits
      |FROM documents WHERE regexp_matches(text, 'st[a-z]+')
      |ORDER BY doc_id""".stripMargin

  /** Array function family over the embeddings (no arithmetic — float
    * values pass through exactly).
    */
  def q29ArrayFuncs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        array_min(col("embedding")).as("vmin"),
        array_max(col("embedding")).as("vmax"),
        col("label"))
      .orderBy(col("vec_id"))

  val q29Oracle: String =
    """SELECT vec_id,
      | CAST(len(embedding) AS INTEGER) AS dim,
      | embedding[1] AS first_val,
      | list_min(embedding) AS vmin,
      | list_max(embedding) AS vmax,
      | label
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Conditional/null family: nullif, coalesce, least/greatest, CASE. */
  def q30Conditional(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING")).as("status_x"),
        least(col("o_totalprice"), lit(100000.0)).as("capped"),
        greatest(col("o_totalprice"), lit(50000.0)).as("floored"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 200000, "mid")
          .otherwise("large").as("bucket"))
      .orderBy(col("o_orderkey"))

  val q30Oracle: String =
    """SELECT o_orderkey,
      | coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_x,
      | least(o_totalprice, 100000.0) AS capped,
      | greatest(o_totalprice, 50000.0) AS floored,
      | CASE WHEN o_totalprice < 50000 THEN 'small'
      |      WHEN o_totalprice < 200000 THEN 'mid'
      |      ELSE 'large' END AS bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Window function family beyond rank: lag/lead/first/running-sum/
    * ntile over a fully tie-broken ordering.
    */
  def q31WindowFuncs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_totalprice")).over(w).as("first_price"),
        round(sum(col("o_totalprice")).over(wr), 2).as("running_total"),
        ntile(4).over(w).as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q31Oracle: String =
    """SELECT o_custkey, o_orderkey,
      | lag(o_totalprice, 1) OVER w AS prev_price,
      | lead(o_totalprice, 1) OVER w AS next_price,
      | first_value(o_totalprice) OVER w AS first_price,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q19_in_subquery", q19InSubquery, Some(q19Oracle)),
    QuerySpec("q20_scalar_subquery", q20ScalarSubquery, Some(q20Oracle)),
    QuerySpec("q21_pivot", q21Pivot, Some(q21Oracle)),
    QuerySpec("q22_unnest", q22Unnest, Some(q22Oracle)),
    QuerySpec("q23_date_arith", q23DateArith, Some(q23Oracle)),
    QuerySpec("q24_arg_max", q24ArgMax, Some(q24Oracle)),
    QuerySpec("q25_percentile", q25Percentile, Some(q25Oracle)),
    QuerySpec("q26_distinct_agg", q26DistinctAgg, Some(q26Oracle)),
    QuerySpec("q27_grouping_sets", q27GroupingSets, Some(q27Oracle)),
    QuerySpec("q28_regex", q28Regex, Some(q28Oracle)),
    QuerySpec("q29_array_funcs", q29ArrayFuncs, Some(q29Oracle)),
    QuerySpec("q30_conditional", q30Conditional, Some(q30Oracle)),
    QuerySpec("q31_window_funcs", q31WindowFuncs, Some(q31Oracle)),
  )
}
