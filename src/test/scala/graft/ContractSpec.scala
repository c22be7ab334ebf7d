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
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"names declared more than once: $dups")
    assert(SparkEntry.queries.size === SparkEntry.registry.size,
      "duplicate query name across batches (map merge dropped one)")
    assert(SparkEntry.queries.size >= 226,
      "registered-query surface shrank below the round-15 ledger")
  }

  test("non-probe pricing classes are exactly the declared ones") {
    // a renamed or re-declared entry must not silently fall to probe
    val nonProbe = SparkEntry.registry.filter(_.pricing != Pricing.Probe)
      .map(s => s.name -> s.pricing.name).toMap
    assert(nonProbe === Map(
      "p123_incremental_soft_dedup" -> "ingestion",
      "p126_incremental_vector_labels" -> "ingestion",
      "p127_incremental_video_labels" -> "ingestion",
      "p128_incremental_audio_labels" -> "ingestion",
      "p132_incremental_crossmodal" -> "ingestion",
      "p136_retraction_labels" -> "retraction",
      "p137_retraction_bm25" -> "retraction",
      "p140_retraction_vector_labels" -> "retraction",
      "p56_pq_trained" -> "training",
      "p69_bpe_merges" -> "training",
      "p107_perceptron_pocket" -> "training",
      "p124_ann_tuning_trained" -> "training",
      "p145_drift_retrain_assignment" -> "training"))
  }

  test("the driver session carries every setting Bench prices with") {
    // BenchOne, ExplainAll and the tools build their session from the
    // same settings, so none of them can drift from Bench's plans
    assert(DriverSession.settings("7").toMap === Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      "spark.ui.enabled" -> "false",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC"))
  }

  test("IndexStores: stores share one per-JVM root; a failed build leaves no dir") {
    var failed: java.io.File = null
    intercept[IllegalStateException] {
      operators.IndexStores.of("contract_fail", "unused") { p =>
        failed = new java.io.File(p)
        java.nio.file.Files.writeString(new java.io.File(p, "part").toPath, "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(failed != null && !failed.exists(),
      "a build that throws must delete its store directory")
    val ok = new java.io.File(
      operators.IndexStores.of("contract_ok", "unused")(_ => ()))
    assert(ok.isDirectory && ok.getParentFile == failed.getParentFile)
    assert(ok.getParentFile.getName.startsWith("graft_stores"))
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
