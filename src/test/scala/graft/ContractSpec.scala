package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract: every oracle key has a query, the
  * flagship entry returns rows, and names stay well-formed. A wiring
  * mistake here would silently zero a whole round's correctness score.
  */
class ContractSpec extends AnyFunSuite with SparkTestBase {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query map is non-empty and names are unique across batches") {
    val all = Seq(operators.Relational.queries, operators.Relational2.queries,
      operators.Relational3.queries, operators.Relational4.queries,
      operators.Relational5.queries, operators.Relational6.queries,
      operators.Relational7.queries, operators.Relational8.queries,
      operators.PipelineQueries.queries, operators.Pipeline2.queries,
      operators.Pipeline3.queries, operators.Pipeline4.queries,
      operators.Pipeline5.queries, operators.Pipeline6.queries,
      operators.Pipeline7.queries, operators.Pipeline8.queries,
      operators.Pipeline9.queries, operators.Pipeline10.queries,
      operators.Pipeline11.queries, operators.Pipeline12.queries,
      operators.Pipeline13.queries, operators.Pipeline14.queries,
      operators.Pipeline15.queries, operators.Pipeline16.queries,
      operators.Pipeline17.queries, operators.Pipeline18.queries)
    assert(all.map(_.size).sum === SparkEntry.queries.size,
      "duplicate query name across batches (map merge dropped one)")
    assert(SparkEntry.queries.size >= 226,
      "registered-query surface shrank below the round-15 ledger")
  }

  test("rows-only queries (no oracle) are the documented exceptions only") {
    // p15 left this set in round 7: the raster decode carries a full
    // differential oracle now that the payload format is self-describing.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // p69 graduated in round 10 (unrolled argmax CTEs); p56 graduated
    // in round 15 (frozen integer-micro PQ training, the p124 device),
    // shrinking this list to five.
    assert(noOracle === Set("p16_approx_stats",
      "q61_sliding_distinct_hll", "q62_heavy_hitters", "p39_weighted_sample",
      "p42_weighted_sample_by"))
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Engine.sql: SQL strings over registered tables, graft functions included") {
    val df = Engine.sql(spark, "/root/testdata/sf0.001",
      """SELECT o.o_orderkey, count(*) AS n
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1 LIMIT 5""".stripMargin)
    assert(df.count() === 5)
    // injected function surface reachable from SQL
    val dot = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d").collect()(0)
    assert(math.abs(dot.getDouble(0) - 11.0) < 1e-9)
  }

  test("Engine.withSwapRetry: the registered-reader retry contract is pinned") {
    // Registered Verify/Bench probes serialize through the one
    // maintenance scheduler and never race a swap — they stay unwrapped
    // by design. An EXTERNAL concurrent reader must wrap its whole
    // read-to-action in Engine.withSwapRetry (Engine's scaladoc states
    // the contract; SwapRaceSpec proves it under real races). This test
    // pins the facade's routing: swap-transient classes retry to
    // success, permanent errors propagate on the FIRST attempt.
    var calls = 0
    val got = Engine.withSwapRetry(attempts = 5, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new java.io.FileNotFoundException("mid-swap")
      42
    }
    assert(got === 42 && calls === 3,
      "file-level not-found must retry through the swap window")

    calls = 0
    intercept[IllegalArgumentException] {
      Engine.withSwapRetry(attempts = 5, backoffMs = 1) {
        calls += 1
        throw new IllegalArgumentException("permanent analysis error")
      }
    }
    assert(calls === 1,
      "a permanent error must propagate immediately, not retry to " +
        "exhaustion")
  }

  test("Engine facade: wordlist existence end-to-end") {
    import graft.operators.WordlistSearch._
    val ranges = Seq(ChunkRange(1, 'a', 'm'), ChunkRange(2, 'm', 'z'))
    val dir = SparkTestBase.tmpDir("eng_wl")
    writeBucketed(Seq("alpha", "zulu"), ranges, dir)
    assert(Engine.exists(spark, dir, ranges, "alpha"))
    assert(!Engine.exists(spark, dir, ranges, "beta"))
    assert(Engine.find(spark, dir, ranges, "zulu").count() === 1)
  }
}
