package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Relational operator surface (SURVEY.md §7.2 M3).
  *
  * The reference engine's only query is a pruned scan+filter+exists
  * (`/root/reference/server.go:399-411`, `/root/reference/slave.go:68-105`);
  * this object generalizes each of its dataflow mechanisms to the full
  * relational algebra the way SURVEY.md §2 maps them:
  *   - O1 scan        -> parquet FileSourceScanExec (columnar, pushdown)
  *   - O2 filter      -> Catalyst `Filter`, codegen'd, pushed to the scan
  *   - O3 pruning     -> parquet min/max skipping + partition pruning (free)
  *   - O4/O5 2-phase agg -> HashAggregateExec partial -> final
  *   - O6 early-out   -> limit / top-k (TakeOrderedAndProjectExec)
  *
  * Scale notes (100 TB design intent), per query, in each Scaladoc. Dims
  * (region/nation/customer/supplier/part) are broadcast explicitly — at
  * SF100k lineitem is ~75 TB while nation/region stay KB-sized and customer
  * ~20 GB (bucketing or shuffle join territory; we broadcast only the
  * genuinely small ones and leave customer to AQE/sort-merge).
  */
object Relational {

  /** TPC-H Q1 pricing summary: full-scan grouped aggregation.
    * Scale: partial aggregation (map-side combine) reduces 100 TB of
    * lineitem to |groups| ~= 6 rows per partition before the shuffle;
    * the shuffle moves KBs. Filter + 7-column projection are pushed to
    * the parquet scan (verified via explain: PushedFilters/ReadSchema).
    */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity),2) AS sum_qty,
      | round(sum(l_extendedprice),2) AS sum_base_price,
      | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
      | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
      | round(avg(l_quantity),2) AS avg_qty,
      | round(avg(l_extendedprice),2) AS avg_price,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Filter + project: both must reach the parquet reader (pushdown +
    * column pruning); the scan reads 5 of 11 columns and skips row
    * groups via min/max stats on l_shipdate. No shuffle at all.
    */
  def q02FilterProject(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-06-01") && col("l_discount") > lit(0.05))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  val q02Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Broadcast hash join fact->dim, then grouped agg.
    * Scale: customer is O(SF) but its two used columns are narrow; at
    * 100 TB lineitem scale customer(~20 GB) stops being broadcastable —
    * AQE then falls back to shuffled hash join on o_custkey. Here we
    * broadcast explicitly: zero shuffle of the fact table for the join;
    * the only shuffle is the final tiny group-by on c_mktsegment.
    */
  def q03JoinBroadcast(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))

  val q03Oracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Multi-way join snowflake rollup: lineitem⋈orders⋈customer⋈nation⋈region.
    * Scale: the join order matters — lineitem⋈orders is the one genuinely
    * big join (both O(SF)); it shuffles on orderkey (or co-located if both
    * are bucketed by orderkey at write time). customer/nation/region are
    * broadcast so the fact rows never reshuffle for them. Catalyst+AQE
    * reorder/validate this; the hints make the intent explicit.
    */
  def q04JoinSnowflake(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"))

  val q04Oracle: String =
    """SELECT r_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Left-semi join = the generalized existence query (SURVEY §2: O4/O5 as
    * a semi-join). Scale: semi-join needs only the key column of the right
    * side; Spark builds a broadcast hash set when small, else shuffles
    * only keys. Early-out per probe row — no row multiplication.
    */
  def q05SemiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d).filter(col("o_totalprice") > lit(150000.0)),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  val q05Oracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join = NOT EXISTS. Same scale shape as the semi-join. */
  def q06AntiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val q06Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Window function top-N per group (rank over partition).
    * Scale: single shuffle on the partition key, then a sort within each
    * partition — no global sort. Skewed customers would need key salting;
    * order keys here are ~uniform.
    */
  def q07WindowTopN(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
  }

  val q07Oracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** Global top-k: generalizes the reference's LIMIT-style early
    * termination (O6). Spark plans TakeOrderedAndProject: each partition
    * keeps a k-heap, driver merges k*numPartitions rows — no global sort,
    * no full shuffle, scales to any table size with k bounded.
    */
  def q08TopK(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  val q08Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Set operation: INTERSECT (distinct semantics). Scale: planned as an
    * aggregate + join on the full row; both inputs here are pre-projected
    * to the single key column so the shuffle is minimal.
    */
  def q09Intersect(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  val q09Oracle: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** Set operation: EXCEPT (distinct). Nations with customers but no suppliers. */
  def q10Except(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  val q10Oracle: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** ROLLUP hierarchy aggregation. NULL grouping markers are coalesced to
    * a sentinel so ORDER BY semantics match across engines (Spark sorts
    * NULLS FIRST, DuckDB NULLS LAST — sidestepped entirely).
    */
  def q11Rollup(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
              col("n"), col("qty"))
      .orderBy(col("rflag"), col("lstatus"))

  val q11Oracle: String =
    """SELECT coalesce(l_returnflag,'ALL') AS rflag, coalesce(l_linestatus,'ALL') AS lstatus,
      |       count(*) AS n, round(sum(l_quantity),2) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rflag, lstatus""".stripMargin

  /** CUBE aggregation over orders. Same sentinel treatment as q11. */
  def q12Cube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  val q12Oracle: String =
    """SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
      |       count(*) AS n, round(sum(o_totalprice),2) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Scalar function surface: string / date / math, all codegen'd builtins
    * (no UDFs — SURVEY §7: "functions, not UDFs"). Per-row, embarrassingly
    * parallel, no shuffle except the output sort.
    */
  def q13Scalars(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("pri_upper"),
        expr("substring(o_orderpriority, 3)").as("pri_name"),
        length(col("o_orderpriority")).as("pri_len"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_pri"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        round(sqrt(col("o_totalprice")), 4).as("price_sqrt"),
        round(col("o_totalprice") % lit(97.0), 4).as("price_mod"),
        floor(col("o_totalprice")).as("price_floor"))
      .orderBy(col("o_orderkey"))

  val q13Oracle: String =
    """SELECT o_orderkey,
      | upper(o_orderpriority) AS pri_upper,
      | substring(o_orderpriority, 3) AS pri_name,
      | CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
      | o_orderstatus || '-' || o_orderpriority AS status_pri,
      | CAST(year(o_orderdate) AS INTEGER) AS o_year,
      | CAST(month(o_orderdate) AS INTEGER) AS o_month,
      | CAST(day(o_orderdate) AS INTEGER) AS o_day,
      | round(sqrt(o_totalprice), 4) AS price_sqrt,
      | round(fmod(o_totalprice, 97.0), 4) AS price_mod,
      | CAST(floor(o_totalprice) AS BIGINT) AS price_floor
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** JSON extraction from the events.props payload (semi-structured
    * column). get_json_object is a codegen'd path expression — at scale
    * prefer from_json with an explicit schema once the payload shape is
    * known so Catalyst can prune into the struct.
    */
  def q14Json(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"))
      .orderBy(col("event_id"))

  val q14Oracle: String =
    """SELECT event_id,
      | json_extract_string(props, '$.k') AS k_str,
      | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
      |FROM events ORDER BY event_id""".stripMargin

  /** Time-bucketed aggregation over the event stream table (batch echo of
    * the streaming tumbling window; the streaming variant lives in
    * graft.streaming). date_trunc keeps the bucket a plain timestamp so
    * the DuckDB oracle compares exactly.
    */
  def q15HourlyEvents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("hr"), col("event_type"))

  val q15Oracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type,
      |       count(*) AS n, round(sum(value),2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin

  /** Existence query over text — the reference's Q_ref generalized to a
    * word-containment predicate (SURVEY §1.4: boolean existence result).
    * The early-terminating scan (per-block line filters and a driver read
    * of each candidate block, then at most one map-only job over the
    * unfiltered files, cancelled on its first hit) is WordlistSearch.exists;
    * this DataFrame form is the oracle-checkable shape.
    */
  def q16ExistsText(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .agg((count(when(col("text").contains(" join "), 1)) > 0).as("found"))

  val q16Oracle: String =
    """SELECT count(CASE WHEN text LIKE '% join %' THEN 1 END) > 0 AS found
      |FROM documents""".stripMargin

  /** UNION ALL + per-branch aggregation (bag semantics set op). */
  def q17UnionAll(s: SparkSession, d: String): DataFrame =
    orders(s, d).select(lit("orders").as("src"), col("o_orderkey").as("key"))
      .unionAll(lineitem(s, d).select(lit("lineitem").as("src"), col("l_orderkey").as("key")))
      .groupBy(col("src")).agg(count(lit(1)).as("n"), sum(col("key")).as("key_sum"))
      .orderBy(col("src"))

  val q17Oracle: String =
    """SELECT src, count(*) AS n, CAST(sum(key) AS BIGINT) AS key_sum FROM (
      |  SELECT 'orders' AS src, o_orderkey AS key FROM orders
      |  UNION ALL
      |  SELECT 'lineitem' AS src, l_orderkey AS key FROM lineitem) t
      |GROUP BY src ORDER BY src""".stripMargin

  /** Sessionization via windowed gap detection: lag + running sum — the
    * classic "reconstruct sessions from an event log" pipeline step.
    * Scale: one shuffle on user_id, in-partition sort by ts; state is
    * O(1) per row (lag only).
    */
  def q18Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk", when(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q18Oracle: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  /** All (name -> query) pairs contributed by this object. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project"  -> (q02FilterProject _),
    "q03_join_broadcast"  -> (q03JoinBroadcast _),
    "q04_join_snowflake"  -> (q04JoinSnowflake _),
    "q05_semi_join"       -> (q05SemiJoin _),
    "q06_anti_join"       -> (q06AntiJoin _),
    "q07_window_topn"     -> (q07WindowTopN _),
    "q08_topk"            -> (q08TopK _),
    "q09_intersect"       -> (q09Intersect _),
    "q10_except"          -> (q10Except _),
    "q11_rollup"          -> (q11Rollup _),
    "q12_cube"            -> (q12Cube _),
    "q13_scalars"         -> (q13Scalars _),
    "q14_json"            -> (q14Json _),
    "q15_hourly_events"   -> (q15HourlyEvents _),
    "q16_exists_text"     -> (q16ExistsText _),
    "q17_union_all"       -> (q17UnionAll _),
    "q18_sessionize"      -> (q18Sessionize _),
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Oracle,
    "q02_filter_project"  -> q02Oracle,
    "q03_join_broadcast"  -> q03Oracle,
    "q04_join_snowflake"  -> q04Oracle,
    "q05_semi_join"       -> q05Oracle,
    "q06_anti_join"       -> q06Oracle,
    "q07_window_topn"     -> q07Oracle,
    "q08_topk"            -> q08Oracle,
    "q09_intersect"       -> q09Oracle,
    "q10_except"          -> q10Oracle,
    "q11_rollup"          -> q11Oracle,
    "q12_cube"            -> q12Oracle,
    "q13_scalars"         -> q13Oracle,
    "q14_json"            -> q14Oracle,
    "q15_hourly_events"   -> q15Oracle,
    "q16_exists_text"     -> q16Oracle,
    "q17_union_all"       -> q17Oracle,
    "q18_sessionize"      -> q18Oracle,
  )
}
