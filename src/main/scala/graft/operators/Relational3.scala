package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.QuerySpec

/** Relational surface, batch 3 — the operators Spark has no single
  * builtin for, each expressed in its scale-correct distributed shape:
  * as-of join (union + running window, one shuffle), range join
  * (bucketed equi-join, no nested-loop), skew-salted aggregation
  * (two-phase), and an order-sensitive rolling-hash fingerprint.
  */
object Relational3 {

  /** AS-OF JOIN: each click event matched to the most recent
    * prior-or-equal purchase of the same user.
    *
    * Spark has no asof operator; the naive form is a non-equi theta
    * join (BroadcastNestedLoop — O(n·m), unusable at scale). This is
    * the standard distributed shape instead: union both sides with a
    * marker, ONE shuffle by user, and a running `last(purchase)` window
    * ordered by (ts, marker). Cost is a sort within user partitions —
    * exactly what a 100 TB event log can afford. Ties (click and
    * purchase at the same ts) match, like `ON c.ts >= p.ts`.
    */
  def q32AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
              col("value"), lit(1).as("is_p"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
              lit(null).cast("double").as("value"), lit(0).as("is_p"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("p", last(when(col("is_p") === 1,
        struct(col("ts").as("pts"), col("value").as("pval"))), ignoreNulls = true).over(w))
      .filter(col("is_p") === 0 && col("p").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("p.pts").as("purchase_ts"), col("p.pval").as("purchase_value"))
      .orderBy(col("event_id"))
  }

  val q32Oracle: String =
    """SELECT c.event_id, c.user_id, c.ts, p.ts AS purchase_ts, p.value AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  /** RANGE JOIN: per click, how many same-user events landed in the
    * strictly-preceding 10 minutes.
    *
    * A raw interval predicate would also nested-loop; bucketing by a
    * 600 s epoch window turns it into an equi-join on (user, bucket):
    * each probe explodes to its own and the previous bucket (the
    * interval length never spans more), the join is a plain hash join,
    * and the precise interval filter runs post-join. Shuffle is
    * O(events + 2·probes) — the scale-correct range-join shape.
    */
  def q33RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val bkt = (c: org.apache.spark.sql.Column) => floor(unix_timestamp(c) / 600L)
    val probes = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("u"), col("ts").as("cts"))
      .withColumn("bucket", explode(array(bkt(col("cts")), bkt(col("cts")) - 1)))
    val base = ev.select(col("user_id"), col("ts"),
      bkt(col("ts")).as("bucket"))
    val inRange = col("ts").isNotNull &&
      col("ts") > col("cts") - expr("INTERVAL 10 MINUTES") && col("ts") < col("cts")
    probes.join(base,
        probes("u") === base("user_id") && probes("bucket") === base("bucket"), "left")
      .groupBy(col("event_id"), col("u").as("user_id"), col("cts").as("ts"))
      .agg(sum(when(inRange, 1L).otherwise(0L)).as("n_prev_10m"))
      .orderBy(col("event_id"))
  }

  val q33Oracle: String =
    """SELECT c.event_id, c.user_id, c.ts,
      |  (SELECT count(*) FROM events e
      |   WHERE e.user_id = c.user_id
      |     AND e.ts > c.ts - INTERVAL 10 MINUTE AND e.ts < c.ts) AS n_prev_10m
      |FROM events c WHERE c.event_type = 'click'
      |ORDER BY c.event_id""".stripMargin

  /** Skew-salted two-phase aggregation: l_returnflag has 3 values, so a
    * direct groupBy funnels the table into 3 reducers. Phase 1 spreads
    * each hot key over 32 salt shards (hash of the row's order key),
    * phase 2 merges the 3×32 partials — the hot-key shuffle shrinks
    * from O(rows) per reducer to O(salts). Arithmetic is exact (long
    * sums; quantities are integral), so the salted result hash-matches
    * the direct oracle independent of addition order.
    */
  def q34SaltedAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"), pmod(xxhash64(col("l_orderkey")), lit(32)).as("salt"))
      .agg(sum(col("l_quantity").cast("long")).as("q"), count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("q")).as("sum_qty"), sum(col("c")).as("n"))
      .orderBy(col("l_returnflag"))

  val q34Oracle: String =
    """SELECT l_returnflag, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Order-sensitive rolling-hash document fingerprint (vs p02's
    * order-insensitive token-set fingerprint): polynomial fold of
    * md5-derived word hashes mod 2^30 — word-order variants diverge,
    * exact repeats collide. Pure per-row fold, no shuffle.
    */
  def q35RollingHash(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
              graft.functions.TextAnalysis.rollingHash(col("text")).as("rhash"))
      .orderBy(col("doc_id"))

  val q35Oracle: String =
    """SELECT doc_id,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(string_split(text, ' '),
      |       w -> CAST('0x' || substr(md5(w), 1, 7) AS BIGINT))),
      |   (a, b) -> (a * 1000003 + b) % 1073741824) AS rhash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Top-k per group through the custom bounded-heap aggregate
    * ([[org.apache.spark.sql.graftext.TopK]]): top-3 customers by
    * balance per market segment. Unlike the window form (q07), the
    * heap buffer caps each map-side partial at k rows per group before the
    * shuffle; results are identical because the struct ordering
    * (balance, custkey) is total.
    */
  def q36TopkAgg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftext.TopK
    customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(TopK.topk(struct(col("c_acctbal"), col("c_custkey")), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("c_mktsegment"), (col("i") + 1).cast("int").as("rnk"),
              col("t.c_custkey").as("c_custkey"),
              round(col("t.c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  val q36Oracle: String =
    """SELECT c_mktsegment, CAST(rn AS INTEGER) AS rnk, c_custkey,
      |       round(c_acctbal, 2) AS c_acctbal
      |FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |              ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      |  FROM customer)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rnk""".stripMargin

  /** Fact-to-dim broadcast join + aggregation (TPC-H Q14 flavor):
    * lineitem joined to part on partkey, revenue stats per brand. The
    * part dim broadcasts (hinted; it stays dim-sized at any SF), so the
    * lineitem scan streams once with zero shuffle before aggregation.
    */
  def q37PartRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(broadcast(part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
             .as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))

  val q37Oracle: String =
    """SELECT p_brand,
      | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      | count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q32_asof_join", q32AsofJoin, Some(q32Oracle)),
    QuerySpec("q33_range_join", q33RangeJoin, Some(q33Oracle)),
    QuerySpec("q34_salted_agg", q34SaltedAgg, Some(q34Oracle)),
    QuerySpec("q35_rolling_hash", q35RollingHash, Some(q35Oracle)),
    QuerySpec("q36_topk_agg", q36TopkAgg, Some(q36Oracle)),
    QuerySpec("q37_part_revenue", q37PartRevenue, Some(q37Oracle)),
  )
}
