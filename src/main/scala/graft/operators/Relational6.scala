package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Relational operators, batch 6: distributed join hardening — the
  * two standard shuffle-volume weapons (key salting for skew,
  * semi-join reduction for selective dims). Both produce EXACTLY the
  * semantics of the plain join they replace, so their oracles are the
  * plain ANSI joins — what is being exercised is the distributed
  * shape, not new semantics.
  */
object Relational6 {

  /** Salt-replicated skew join: fact rows are salted into S lanes by
    * a hash nobody can skew (xxhash64 of the full row key), and the
    * dim side is replicated across all S salts, so one hot join key
    * spreads over S reducers instead of melting one. Result is
    * identical to the unsalted join — replication guarantees every
    * fact row still meets its dim row exactly once.
    *
    * Scale: this is the manual fallback when AQE skew-join can't help
    * (e.g. the skew is in a single key, which AQE can split for sort-
    * merge but not for hash-partitioned aggregates downstream).
    * Shuffle cost: fact unchanged, dim ×S — dims are the small side,
    * so S·|dim| stays far below |fact|. Revenue is floor-quantized
    * per row and summed as BIGINT (engine-portable, no float agg).
    */
  def q52SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val S = 8
    val fact = lineitem(s, d).select(
      col("l_orderkey"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
        .cast("long").as("rev_c"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S))
        .cast("int").as("salt"))
    val dim = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
    // shuffle_hash hint: the replicated dim must NOT be broadcast (AQE
    // would happily build a |dim|*S broadcast at small SF, which is both
    // slow here and impossible at scale — the whole point of salting is
    // to spread a hash-partitioned join).
    fact.join(dim.hint("shuffle_hash"),
        fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("rev_c")).as("rev_c"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  val q52Oracle: String =
    """SELECT o_orderpriority,
      | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
      |   AS BIGINT) AS rev_c,
      | count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Semi-join reduction: before joining the fact table to a
    * selective dim, broadcast the dim's join-key [min, max] envelope
    * and pre-filter fact rows map-side — fact rows outside the
    * envelope never enter the join shuffle. The envelope is a sound
    * superset (range ⊇ key set), so the join result is exactly the
    * plain join's; what changes is shuffle volume. This is the
    * DataFrame-level analog of dynamic partition pruning / runtime
    * bloom filters, expressed with one scalar aggregate + broadcast.
    */
  def q53SemiJoinReduction(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bounds = dim.agg(min(col("o_orderkey")).as("lo"),
                         max(col("o_orderkey")).as("hi"))
    val fact = lineitem(s, d).select(
        col("l_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long").as("rev_c"))
      .crossJoin(broadcast(bounds))
      .filter(col("l_orderkey").between(col("lo"), col("hi")))
      .drop("lo", "hi")
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("rev_c")).as("rev_c"), count(lit(1)).as("n"))
      .orderBy(col("yr"))
  }

  val q53Oracle: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      | CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
      |   AS BIGINT) AS rev_c,
      | count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q52_salted_join", q52SaltedJoin, Some(q52Oracle)),
    QuerySpec("q53_semijoin_reduction", q53SemiJoinReduction, Some(q53Oracle)),
  )
}
