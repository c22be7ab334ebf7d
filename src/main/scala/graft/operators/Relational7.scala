package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Relational operators, batch 7: event debouncing, distributed
  * higher moments, relational division, global rank without a global
  * sort, and sliding-window distinct counts.
  *
  * Oracle-parity rules as established: integer-only aggregates where
  * possible; any double derived from exact integer sums uses the SAME
  * +,-,*,/,sqrt expression text in both engines (pow() is avoided —
  * unlike sqrt it is not correctly rounded and may differ between
  * libm and the JVM); full ORDER BY tie-break keys.
  */
object Relational7 {

  /** Debounce: drop events that fire within 5 s of the previous event
    * of the same (user, type) — the standard duplicate-burst cleanup
    * for instrumentation streams. lag() over the per-key order gives
    * the gap; the first event of a key always survives.
    *
    * Scale shape: one hash shuffle on (user_id, event_type); windows
    * are per-key, so no global sort anywhere. Gap arithmetic is in
    * integral microseconds — no float time math.
    */
  def q54Debounce(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNull || col("gap_us") > 5000000L)
      .select(col("event_id"), col("user_id"), col("event_type"),
              coalesce(col("gap_us"), lit(-1L)).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val q54Oracle: String =
    """WITH g AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP))
      |           - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |               PARTITION BY user_id, event_type
      |               ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_id, user_id, event_type,
      |       coalesce(gap_us, -1) AS gap_us
      |FROM g WHERE gap_us IS NULL OR gap_us > 5000000
      |ORDER BY event_id""".stripMargin

  /** Distributed skewness/kurtosis from exact integer power sums:
    * values are floor-quantized to integer units, the four power sums
    * accumulate as BIGINT (exact, associative, any partial-agg order),
    * and the moments are derived from those sums with arithmetic that
    * is bit-identical across engines. This is how higher moments
    * survive a 1000-executor partial/final aggregation without float
    * non-determinism: the only cross-partition combine is integer
    * addition.
    *
    * (Spark's built-in skewness/kurtosis stream doubles through a
    * merge tree — fine numerically, but not reproducible run-to-run
    * at scale, and definitionally different from DuckDB's sample
    * variants. Power sums sidestep both.)
    */
  def q55Moments(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), expr("CAST(floor(value) AS BIGINT)").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
           sum(expr("c*c")).as("s2"), sum(expr("c*c*c")).as("s3"),
           sum(expr("c*c*c*c")).as("s4"))
      .withColumn("mean", expr("s1/n"))
      .withColumn("variance", expr("s2/n - (s1/n)*(s1/n)"))
      .withColumn("skew", expr(
        "(s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n)) / " +
        "((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n)))"))
      .withColumn("kurt", expr(
        "(s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) - " +
        "3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / " +
        "((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n)))"))
      .orderBy(col("event_type"))

  val q55Oracle: String =
    """WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS c FROM events),
      |a AS (SELECT event_type, count(*) AS n,
      |             CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c*c) AS BIGINT) AS s2,
      |             CAST(sum(c*c*c) AS BIGINT) AS s3, CAST(sum(c*c*c*c) AS BIGINT) AS s4
      |      FROM b GROUP BY event_type)
      |SELECT event_type, n, s1, s2, s3, s4,
      |       s1/n AS mean,
      |       s2/n - (s1/n)*(s1/n) AS variance,
      |       (s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n)) /
      |         ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n))) AS skew,
      |       (s4/n - 4.0*(s1/n)*(s3/n) + 6.0*(s1/n)*(s1/n)*(s2/n) -
      |         3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n)) /
      |         ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) AS kurt
      |FROM a ORDER BY event_type""".stripMargin

  /** Relational division: customers whose orders span EVERY order
    * priority present in the data — "for all" turned into a
    * count-distinct equality against a broadcast scalar. The classic
    * division-by-double-NOT-EXISTS becomes one aggregate + one scalar
    * subquery; no nested-loop anti-joins.
    */
  def q56Division(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    val total = o.agg(countDistinct(col("o_orderpriority")).as("n_prio"))
    o.groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("n_prio_cust"),
           count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(total))
      .filter(col("n_prio_cust") === col("n_prio"))
      .select(col("o_custkey"), col("n_orders"))
      .orderBy(col("o_custkey"))
  }

  val q56Oracle: String =
    """SELECT o_custkey, count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(DISTINCT o_orderpriority) =
      |       (SELECT count(DISTINCT o_orderpriority) FROM orders)
      |ORDER BY o_custkey""".stripMargin

  /** Global rank + decile WITHOUT a global single-partition sort, via
    * TwoLevel.withGlobalRank (shard key monotone in the sort order,
    * parallel per-shard windows, broadcast shard-offset table — see
    * that scaladoc for the full argument). The decile is derived
    * arithmetically from the rank and the broadcast total — not
    * ntile(), whose remainder rule would need the same machinery for
    * no added value.
    */
  def q57GlobalRank(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("n_chars"))
    val total = base.agg(count(lit(1)).as("n_total"))
    TwoLevel.withGlobalRank(base, "n_chars", Seq("doc_id"), "rn")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_chars"), col("rn"),
              (expr("((rn - 1) * 10) DIV n_total") + 1).as("decile"))
      .orderBy(col("doc_id"))
  }

  val q57Oracle: String =
    """WITH r AS (
      |  SELECT doc_id, n_chars,
      |         row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
      |         count(*) OVER () AS n
      |  FROM documents)
      |SELECT doc_id, n_chars, CAST(rn AS BIGINT) AS rn,
      |       ((rn - 1) * 10) // n + 1 AS decile
      |FROM r ORDER BY doc_id""".stripMargin

  /** Sliding-window distinct users: for every clock hour, the exact
    * count of distinct users active in the trailing 3-hour window.
    * Sliding distinct is not decomposable (you cannot merge two
    * hours' distinct counts), so each event is expanded to the <=3
    * window positions it covers and the distinct runs per position —
    * the standard exact formulation; shuffle volume is 3x events,
    * hashed by hour. At corpus scale the approximate path swaps
    * count_distinct for HLL sketches, which DO merge and need no
    * expansion.
    */
  def q58SlidingDistinct(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(expr("unix_micros(ts) DIV 3600000000").as("h0"), col("user_id"))
      .select(explode(sequence(col("h0"), col("h0") + 2)).as("eh"),
              col("user_id"))
      .groupBy(col("eh"))
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy(col("eh"))

  val q58Oracle: String =
    """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h0,
      |                  user_id
      |           FROM events),
      |x AS (SELECT unnest(range(h0, h0 + 3)) AS eh, user_id FROM e)
      |SELECT eh, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM x GROUP BY eh ORDER BY eh""".stripMargin

  /** Batched multi-needle substring search — the scale form of the
    * reference's one-password-per-connection existence query
    * (`/root/reference/client.go:61`, `slave.go:85`): N probes share
    * ONE corpus scan instead of N scans. The needle set broadcasts
    * (probe lists are tiny by nature); the corpus side streams map-only
    * through a BroadcastNestedLoopJoin whose per-row work is k
    * substring tests — O(n·k) with n scanned once, exactly what the
    * reference's master would do if its protocol could batch.
    */
  def q59MultiNeedle(s: SparkSession, d: String): DataFrame =
    graft.Engine.searchAll(documents(s, d), "text",
        Seq("merge batch", "window scan", "sort table"))
      .select(col("doc_id"), col("needle"))
      .orderBy(col("doc_id"), col("needle"))

  val q59Oracle: String =
    """SELECT doc_id, needle
      |FROM documents
      |JOIN (VALUES ('merge batch'), ('window scan'), ('sort table'))
      |  AS n(needle)
      |  ON contains(text, needle)
      |ORDER BY doc_id, needle""".stripMargin

  /** Bloom-prefiltered dim join — the hash-shaped semi-join reduction
    * (q53 is the min/max-envelope form, which needs clustered keys;
    * the bloom works for any key distribution). The prefilter is a
    * sound superset, so the oracle is the PLAIN join: what is being
    * exercised is that fact rows outside the dim's key set never enter
    * the join shuffle, not new semantics.
    */
  def q60BloomJoin(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d)
      .filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_orderkey"), col("o_orderdate"))
    val fact = graft.Engine.bloomPrefilter(
      lineitem(s, d).select(
        col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("rev_c")),
      "l_orderkey", dim.select(col("o_orderkey")), "o_orderkey",
      bits = 1 << 18)
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("rev_c")).as("rev_c"), count(lit(1)).as("n"))
      .orderBy(col("yr"))
  }

  val q60Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
      |   AS BIGINT) AS rev_c,
      | count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '2-HIGH'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q54_debounce", q54Debounce, Some(q54Oracle)),
    QuerySpec("q55_moments", q55Moments, Some(q55Oracle)),
    QuerySpec("q56_division", q56Division, Some(q56Oracle)),
    QuerySpec("q57_global_rank", q57GlobalRank, Some(q57Oracle)),
    QuerySpec("q58_sliding_distinct", q58SlidingDistinct, Some(q58Oracle)),
    QuerySpec("q59_multi_needle", q59MultiNeedle, Some(q59Oracle)),
    QuerySpec("q60_bloom_join", q60BloomJoin, Some(q60Oracle)),
    // rows-only: HLL estimates are engine-specific; SketchesSpec pins
    // the error envelope against the exact q58
    QuerySpec("q61_sliding_distinct_hll", Sketches.slidingDistinctHll, None),
    // rows-only: the SpaceSaving sketch is order-sensitive; SketchesSpec
    // pins the (cnt, err) bounds against exact counts
    QuerySpec("q62_heavy_hitters", Sketches.heavyHitters, None),
  )
}
