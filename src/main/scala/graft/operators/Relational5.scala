package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Relational surface, batch 5: time-series resample/gap-fill with
  * forward fill, and ordered funnel analysis over the event stream.
  */
object Relational5 {

  /** Hourly resample of the event stream per type, with gap filling:
    * missing hours appear with n=0 and the hourly mean forward-filled
    * from the last observed hour. The spine (all hours × all types) is
    * generated, not scanned — `sequence()` over the global [min,max]
    * hour exploded against the distinct-type dim, then left-joined to
    * the per-(type,hour) aggregate. Scale shape: the raw scan reduces
    * FIRST (one shuffle to (type,hour) partials); the spine join and
    * the forward-fill window run on post-aggregate data (hours×types
    * rows, ~10⁻⁴ of input), so the per-type window partition is cheap
    * even though a type is a coarse key.
    */
  def q45GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // Quantize per row (floor(v*1e4): pure IEEE mult+floor, identical
    // on any engine), sum exact integers, divide once: the filled mean
    // is bit-deterministic — no double round()/decimal cast, whose
    // half-boundary behavior is representation-dependent.
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
           sum(floor(col("value") * 10000).cast("long")).as("sv"))
      .withColumn("avg_v",
        floor(col("sv").cast("double") / col("n")).cast("double") / 10000.0)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
      .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
    val ff = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("avg_v"), ignoreNulls = true).over(ff).as("ff_avg"))
      .orderBy(col("event_type"), col("h"))
  }

  val q45Oracle: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h,
      |         count(*) AS n,
      |         floor(CAST(CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
      |                    AS DOUBLE) / count(*)) / 10000 AS avg_v
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo,
      |         date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (
      |  SELECT t.event_type, g.h
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |              FROM bounds) g)
      |SELECT s.event_type, s.h,
      |       coalesce(n, 0) AS n,
      |       last_value(avg_v IGNORE NULLS) OVER (
      |         PARTITION BY s.event_type ORDER BY s.h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_avg
      |FROM spine s LEFT JOIN hourly USING (event_type, h)
      |ORDER BY s.event_type, s.h""".stripMargin

  /** Ordered funnel: users who did view → click → purchase in strict
    * timestamp order, with per-stage reach counts and median
    * view→purchase latency for full converters. Each stage is a
    * per-user MIN over a filtered scan joined to the previous stage's
    * frontier — three shuffles on user_id (AQE reuses the exchange),
    * no per-user event-list materialization, so a power user with 10⁶
    * events costs the same as one with 10.
    */
  def q46Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t3"))
    s1.join(s2.select(col("user_id").as("u2")), col("user_id") === col("u2"), "left")
      .join(s3.select(col("user_id").as("u3"), col("t1").as("tt1"), col("t3")),
        col("user_id") === col("u3"), "left")
      .agg(
        count(col("user_id")).as("n_view"),
        count(col("u2")).as("n_click"),
        count(col("u3")).as("n_purchase"),
        round(percentile(
          unix_timestamp(col("t3")) - unix_timestamp(col("tt1")),
          lit(0.5)).cast("double"), 0).as("median_latency_s"))
  }

  val q46Oracle: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, s1.t1, min(e.ts) AS t2
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.t1
      |  GROUP BY 1, 2),
      |s3 AS (
      |  SELECT e.user_id, s2.t1, min(e.ts) AS t3
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |  GROUP BY 1, 2)
      |SELECT count(s1.user_id) AS n_view,
      |       count(s2.user_id) AS n_click,
      |       count(s3.user_id) AS n_purchase,
      |       round(CAST(median(CAST(floor(epoch(s3.t3)) AS BIGINT)
      |                         - CAST(floor(epoch(s3.t1)) AS BIGINT)) AS DOUBLE), 0)
      |         AS median_latency_s
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin

  /** Extended window-function family: quartile bucketing (ntile),
    * cumulative distribution, lead, and nth_value — one shuffle on the
    * partition key, one ordered scan. cume_dist is a ratio of exact
    * integers, so its double output is bit-identical on any engine —
    * no rounding needed (or wanted: round() half-boundary behavior is
    * engine-specific).
    */
  def q47WindowFamily2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d).filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cd"),
        lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
      .orderBy(col("o_orderkey"))
  }

  val q47Oracle: String =
    """SELECT o_orderkey, o_orderpriority,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      | cume_dist() OVER w AS cd,
      | coalesce(lead(o_orderkey) OVER w, -1) AS next_key,
      | nth_value(o_orderkey, 2) OVER w AS second_key
      |FROM orders WHERE o_orderkey <= 4000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Per-user z-score anomaly detection. Values are quantized to
    * integer 1e-4 units up front, so per-user sum / sum-of-squares are
    * EXACT integers; mean, sample variance, and z are then derived
    * through the same IEEE expression on both engines → bit-identical
    * doubles, allowing a raw (unrounded) float predicate z > 3 and raw
    * float output columns. Shape: one shuffle to per-user moments, then
    * a join back to the event scan — left to AQE, since the stats dim
    * is one row per user and only broadcast-able when the user universe
    * is small relative to executor memory.
    */
  def q48Anomaly(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 10000).cast("long").as("vq"))
    val stats = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("vq")).as("s1"),
           sum(col("vq") * col("vq")).as("s2"))
      .filter(col("n") >= 3)
      .select(col("user_id"),
        (col("s1").cast("double") / col("n")).as("mean_q"),
        sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n"))
          / (col("n") - 1)).as("sd_q"))
    ev.join(stats, Seq("user_id"))
      .withColumn("z", (col("vq").cast("double") - col("mean_q")) / col("sd_q"))
      .filter(col("z") > 3.0)
      .select(col("event_id"), col("user_id"),
        (col("vq").cast("double") / 10000.0).as("v"), col("z"))
      .orderBy(col("event_id"))
  }

  val q48Oracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id,
      |         CAST(floor(value * 10000) AS BIGINT) AS vq
      |  FROM events),
      |stats AS (
      |  SELECT user_id,
      |         CAST(sum(vq) AS BIGINT) AS s1,
      |         CAST(sum(vq * vq) AS BIGINT) AS s2,
      |         count(*) AS n
      |  FROM ev GROUP BY 1 HAVING count(*) >= 3),
      |zs AS (
      |  SELECT e.event_id, e.user_id,
      |         CAST(e.vq AS DOUBLE) / 10000.0 AS v,
      |         (CAST(e.vq AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
      |           / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.n)
      |                  / (s.n - 1)) AS z
      |  FROM ev e JOIN stats s USING (user_id))
      |SELECT event_id, user_id, v, z FROM zs
      |WHERE z > 3.0 ORDER BY event_id""".stripMargin

  /** First-order Markov transitions of the per-user event sequence:
    * lag over (user, time) then a count per (prev, cur) pair — the
    * sequence-mining primitive behind session-flow and next-action
    * models. One shuffle for the lag window, one for the transition
    * aggregate (5×5 output partials combine map-side).
    */
  def q49Transitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1, "START").over(w))
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val q49Oracle: String =
    """WITH t AS (
      |  SELECT event_type,
      |         coalesce(lag(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id), 'START') AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, count(*) AS n
      |FROM t GROUP BY 1, 2
      |ORDER BY prev_type, event_type""".stripMargin

  /** MERGE / CDC upsert: apply a change set (inserts, updates,
    * deletes — derived deterministically from the base table so the
    * oracle sees identical inputs) to a base table. The distributed
    * shape is the canonical one (what Delta/Iceberg MERGE INTO plans
    * to): an anti join drops deletes, a left join applies updates,
    * inserts union on — every join keyed on the merge key, so the
    * whole op is hash-partitioned with no data movement beyond the
    * key shuffle, and AQE broadcasts the change set when it's small.
    * Delete wins over update on conflicting keys.
    */
  def q50MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    val upd = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + 1000.0).as("new_price"), lit("upd").as("utag"))
    val del = base.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey"))
    val ins = base.filter(col("o_orderkey") % 13 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        lit(42.0).as("price"), lit("ins").as("tag"))
    base.join(del, Seq("o_orderkey"), "left_anti")
      .join(upd, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("new_price"), col("o_totalprice")).as("price"),
        coalesce(col("utag"), lit("keep")).as("tag"))
      .unionAll(ins)
      .filter(col("o_orderkey") <= 3000
        || (col("o_orderkey") >= 10000000L && col("o_orderkey") <= 10003000L))
      .orderBy(col("o_orderkey"))
  }

  val q50Oracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_totalprice + 1000.0 AS new_price, 'upd' AS utag
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
      |ins AS (
      |  SELECT o_orderkey + 10000000 AS o_orderkey, 42.0 AS price, 'ins' AS tag
      |  FROM orders WHERE o_orderkey % 13 = 0),
      |merged AS (
      |  SELECT o.o_orderkey,
      |         coalesce(u.new_price, o.o_totalprice) AS price,
      |         coalesce(u.utag, 'keep') AS tag
      |  FROM orders o
      |  LEFT JOIN upd u USING (o_orderkey)
      |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.o_orderkey = o.o_orderkey)
      |  UNION ALL SELECT * FROM ins)
      |SELECT * FROM merged
      |WHERE o_orderkey <= 3000
      |   OR (o_orderkey >= 10000000 AND o_orderkey <= 10003000)
      |ORDER BY o_orderkey""".stripMargin

  /** Correlated aggregate subquery — "orders above their customer's
    * average" — in its decorrelated form (per-key aggregate joined
    * back), which is exactly what Catalyst's RewriteCorrelatedScalarSubquery
    * produces. The comparison is done in exact integer cents
    * (`v*n > Σv` instead of `v > Σv/n`), so the predicate has no
    * float-division drift on any engine.
    */
  def q51AboveAvg(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("vq"))
    val per = o.groupBy(col("o_custkey"))
      .agg(sum(col("vq")).as("sv"), count(lit(1)).as("n"))
    o.join(per, Seq("o_custkey"))
      .filter(col("vq") * col("n") > col("sv"))
      .select(col("o_orderkey"), col("o_custkey"))
      .orderBy(col("o_orderkey"))
  }

  val q51Oracle: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS vq
      |  FROM orders),
      |per AS (
      |  SELECT o_custkey, CAST(sum(vq) AS BIGINT) AS sv, count(*) AS n
      |  FROM o GROUP BY 1)
      |SELECT o.o_orderkey, o.o_custkey
      |FROM o JOIN per USING (o_custkey)
      |WHERE o.vq * per.n > per.sv
      |ORDER BY o.o_orderkey""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q51_above_avg", q51AboveAvg, Some(q51Oracle)),
    QuerySpec("q50_merge_upsert", q50MergeUpsert, Some(q50Oracle)),
    QuerySpec("q45_gapfill", q45GapFill, Some(q45Oracle)),
    QuerySpec("q46_funnel", q46Funnel, Some(q46Oracle)),
    QuerySpec("q47_window_family2", q47WindowFamily2, Some(q47Oracle)),
    QuerySpec("q48_anomaly", q48Anomaly, Some(q48Oracle)),
    QuerySpec("q49_transitions", q49Transitions, Some(q49Oracle)),
  )
}
