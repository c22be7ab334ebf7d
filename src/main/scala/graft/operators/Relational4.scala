package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Relational surface, batch 4: histograms, statistical aggregates,
  * multiset set-operations, and the wider string-function family.
  */
object Relational4 {

  /** Equi-width histogram (portable bucket arithmetic — pure floor
    * division, no engine-specific width_bucket). One scan, one shuffle
    * of (bucket → partial count): the canonical distributed histogram.
    */
  def q38Histogram(s: SparkSession, d: String): DataFrame = {
    val w = 50000.0
    val bucket = floor(col("o_totalprice") / w).cast("int")
    orders(s, d)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
           round(min(col("o_totalprice")), 2).as("lo"),
           round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bucket"))
  }

  val q38Oracle: String =
    """SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bucket,
      | count(*) AS n,
      | round(min(o_totalprice), 2) AS lo,
      | round(max(o_totalprice), 2) AS hi
      |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Statistical aggregate family: stddev / correlation / covariance
    * per group (all two-phase partial+final; rounding absorbs the
    * summation-order float drift between engines).
    */
  def q39StatsFamily(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
           round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
           round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
      .orderBy(col("l_returnflag"))

  val q39Oracle: String =
    """SELECT l_returnflag,
      | round(stddev_samp(l_extendedprice), 4) AS sd_price,
      | round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
      | round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Multiset set operations — INTERSECT ALL / EXCEPT ALL keep
    * duplicate multiplicity (planned as aggregate+join, not distinct).
    */
  def q40SetAll(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).filter(col("o_totalprice") > 100000)
      .select(col("o_orderpriority").as("pri"))
    val b = orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderpriority").as("pri"))
    a.intersectAll(b).groupBy(col("pri")).agg(count(lit(1)).as("n_inter"))
      .join(
        a.exceptAll(b).groupBy(col("pri")).agg(count(lit(1)).as("n_except")),
        Seq("pri"), "full_outer")
      .select(col("pri"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
              coalesce(col("n_except"), lit(0L)).as("n_except"))
      .orderBy(col("pri"))
  }

  val q40Oracle: String =
    """WITH a AS (SELECT o_orderpriority AS pri FROM orders WHERE o_totalprice > 100000),
      |b AS (SELECT o_orderpriority AS pri FROM orders WHERE o_orderstatus = 'F'),
      |i AS (SELECT pri, count(*) AS n_inter FROM (
      |        SELECT pri FROM a INTERSECT ALL SELECT pri FROM b) GROUP BY pri),
      |x AS (SELECT pri, count(*) AS n_except FROM (
      |        SELECT pri FROM a EXCEPT ALL SELECT pri FROM b) GROUP BY pri)
      |SELECT coalesce(i.pri, x.pri) AS pri,
      |       coalesce(n_inter, 0) AS n_inter,
      |       coalesce(n_except, 0) AS n_except
      |FROM i FULL OUTER JOIN x ON i.pri = x.pri
      |ORDER BY pri""".stripMargin

  /** String function family: edit distance, padding, reverse/repeat,
    * translate, ascii, left/right slicing, position.
    */
  def q41StringFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d).filter(col("p_partkey") <= 200)
      .select(
        col("p_partkey"),
        levenshtein(col("p_name"), col("p_brand")).as("lev_name_brand"),
        lpad(col("p_brand"), 12, "*").as("brand_lpad"),
        rpad(col("p_type"), 20, ".").as("type_rpad"),
        reverse(col("p_name")).as("name_rev"),
        translate(col("p_name"), "aeiou", "AEIOU").as("name_caps_vowels"),
        ascii(col("p_name")).as("first_byte"),
        substring(col("p_name"), 1, 3).as("name_left"),
        locate("a", col("p_name")).as("first_a"))
      .orderBy(col("p_partkey"))

  val q41Oracle: String =
    """SELECT p_partkey,
      | CAST(levenshtein(p_name, p_brand) AS INTEGER) AS lev_name_brand,
      | lpad(p_brand, 12, '*') AS brand_lpad,
      | rpad(p_type, 20, '.') AS type_rpad,
      | reverse(p_name) AS name_rev,
      | translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
      | CAST(ascii(p_name) AS INTEGER) AS first_byte,
      | left(p_name, 3) AS name_left,
      | CAST(strpos(p_name, 'a') AS INTEGER) AS first_a
      |FROM part WHERE p_partkey <= 200
      |ORDER BY p_partkey""".stripMargin

  /** Hash / binary-encoding family: md5, sha2-256, base64, hex —
    * the content-addressing primitives of the dedup/integrity layer.
    */
  def q42HashFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        md5(col("text")).as("h_md5"),
        sha2(col("text"), 256).as("h_sha256"),
        base64(encode(substring(col("text"), 1, 12), "UTF-8")).as("head_b64"),
        lower(hex(encode(substring(col("text"), 1, 6), "UTF-8"))).as("head_hex"))
      .orderBy(col("doc_id"))

  val q42Oracle: String =
    """SELECT doc_id,
      | md5(text) AS h_md5,
      | sha256(text) AS h_sha256,
      | to_base64(encode(substring(text, 1, 12))) AS head_b64,
      | lower(hex(encode(substring(text, 1, 6)))) AS head_hex
      |FROM documents WHERE doc_id < 100
      |ORDER BY doc_id""".stripMargin

  /** Moving time-window aggregate via a RANGE frame: per user, the
    * rolling 1-hour event-value sum and count — ordered by epoch
    * seconds so the frame bound is engine-portable. One shuffle by
    * user + an ordered frame scan: the batch form of a sliding-window
    * stream aggregation.
    */
  def q43RangeWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_timestamp(col("ts")))
      .rangeBetween(-3600L, 0L)
    val wr = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        round(sum(col("value")).over(w), 2).as("sum_1h"),
        count(lit(1)).over(w).as("n_1h"),
        round(percent_rank().over(wr), 6).as("pr"),
        (dense_rank().over(wr)).cast("long").as("dr"))
      .orderBy(col("event_id"))
  }

  val q43Oracle: String =
    """SELECT event_id, user_id, ts, value,
      | round(sum(value) OVER w1h, 2) AS sum_1h,
      | count(*) OVER w1h AS n_1h,
      | round(percent_rank() OVER wr, 6) AS pr,
      | CAST(dense_rank() OVER wr AS BIGINT) AS dr
      |FROM events
      |WINDOW
      | w1h AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
      | wr AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY event_id""".stripMargin

  /** Z-order clustering key over (custkey, price-bucket): rows sorted
    * by this key cluster in both dimensions, so row-group min/max
    * stats prune range predicates on either column after a
    * sort-by-morton write ([[graft.functions.ZOrder]]).
    */
  def q44Zorder(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ZOrder
    orders(s, d).filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        ZOrder.morton16(col("o_custkey"),
          floor(col("o_totalprice") / 1000).cast("long")).as("zkey"))
      .orderBy(col("o_orderkey"))
  }

  val q44Oracle: String = {
    def spread(v: String): String = {
      val a = s"(($v | ($v << 8)) & 16711935)"
      val b = s"(($a | ($a << 4)) & 252645135)"
      val c = s"(($b | ($b << 2)) & 858993459)"
      s"(($c | ($c << 1)) & 1431655765)"
    }
    val sx = spread("(o_custkey & 65535)")
    val sy = spread("(CAST(floor(o_totalprice / 1000) AS BIGINT) & 65535)")
    s"""SELECT o_orderkey, ($sx | ($sy << 1)) AS zkey
       |FROM orders WHERE o_orderkey <= 2000
       |ORDER BY o_orderkey""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q38_histogram", q38Histogram, Some(q38Oracle)),
    QuerySpec("q39_stats_family", q39StatsFamily, Some(q39Oracle)),
    QuerySpec("q40_set_all", q40SetAll, Some(q40Oracle)),
    QuerySpec("q41_string_funcs", q41StringFuncs, Some(q41Oracle)),
    QuerySpec("q42_hash_funcs", q42HashFuncs, Some(q42Oracle)),
    QuerySpec("q43_range_window", q43RangeWindow, Some(q43Oracle)),
    QuerySpec("q44_zorder", q44Zorder, Some(q44Oracle)),
  )
}
