package graft

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: these queries were tuned to a
  * specific distributed shape (broadcast side, pushdown, single
  * shuffle); a silent planner regression here costs more at 100 TB
  * than any local test could show. Assertions use stable plan markers,
  * not full golden text, so Spark-version noise doesn't break them.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan

  private def plan(name: String): String = physical(name).toString

  /** Plan-tree walks that see through adaptive execution's wrapper. */
  private object Aqe extends AdaptiveSparkPlanHelper

  test("q03: dim side broadcasts (no sort-merge join in the star join)") {
    val p = plan("q03_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast hash join")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q05/q06: semi and anti joins plan as such (no plain-join + distinct)") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    // simple-mode plan text may truncate the list; only require that it
    // starts non-empty
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]].*"),
      "no non-empty pushed filter list on scan")
  }

  test("p28: rank and group-count share one fingerprint shuffle") {
    val p = plan("p28_dedup_keep_best")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1, s"expected 1 hash shuffle, saw $shuffles")
  }

  test("q51: decorrelated aggregate joins back without a third shuffle") {
    val p = plan("q51_above_avg")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 2, s"expected <=2 hash shuffles, saw $shuffles")
  }

  test("q44: z-order key projection is shuffle-free up to the output sort") {
    val p = plan("q44_zorder")
    assert(!p.contains("Exchange hashpartitioning"), "unexpected hash shuffle")
  }

  test("p85: no shuffle is keyed on full document text (star edges, not pairs)") {
    val p = plan("p85_multimodal_dedup")
    // the r7 form self-joined documents on text — K²/2 pairs per K-copy
    // group and the raw text as shuffle key; the star-edge form windows
    // over the 128-bit (xxhash64, salted xxhash64) composite only
    assert(!p.matches("(?s).*hashpartitioning\\(text#.*"),
      "a shuffle keyed on raw document text crept back into p85")
  }

  test("p92/p93: scene windows share ONE doc-keyed shuffle (signatures, never pixels)") {
    // decode is map-side; the lag window (and p93's second, same-key
    // window) must reuse a single hashpartitioning(doc_id) exchange —
    // a second hash shuffle would mean the frame table moved twice
    for (q <- Seq("p92_scene_cuts", "p93_keyframes")) {
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan(q)).size
      assert(shuffles === 1, s"$q: expected 1 hash shuffle, saw $shuffles")
    }
  }

  test("p94: benchmark membership probes stay broadcast joins") {
    val p = plan("p94_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "bench shingle index no longer broadcasts — the map-side probe degraded")
  }

  test("p130: the live-yield refresh reads ONE band partition of the frame store") {
    // the whole point of the op is refresh-without-decode: frame mass
    // comes from the store's own rows, and the scan must prune to
    // band_i = 0 (one of four band partitions), not read the store
    val p = plan("p130_video_yield_live")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*band_i[^\\]]*= 0\\).*"),
      "frame-mass scan lost the band_i partition prune")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian")
  }

  test("p133/p135: the live decision tables never recompute signatures or decode") {
    // the live twins' whole point is refresh-without-recompute: p133's
    // plan must carry no MinHash/shingle stage (xxhash64 appears only
    // in the signature pipelines — the token projection and weight
    // window are hash-free), and p135's must touch no codec boundary
    // (the decodes are object map-partitions; a store-only refresh
    // plans none)
    val p133 = plan("p133_token_yield_live")
    assert(!p133.contains("xxhash64"),
      "live token yield recomputed the signature pipeline")
    val p135 = plan("p135_crossmodal_release_live")
    assert(!p135.contains("MapPartitions") &&
      !p135.contains("DeserializeToObject"),
      "live cross-modal draw planned a decode stage")
    assert(!p133.contains("CartesianProduct") &&
      !p135.contains("CartesianProduct"), "unexpected cartesian")
  }

  test("p100: stored frame probe pushes the band filter into the parquet scan") {
    val p = plan("p100_frame_probe_stored")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*band_v.*"),
      "band_v filter no longer reaches the store scan — row-group " +
      "skipping is dead and the probe reads the whole store")
  }

  test("p114: the span fold is map-only (no hash exchange before the display sort)") {
    // tokenization-adjacent ops are the widest maps in a pipeline: the
    // windows, flags and run fold must all stay inside one projection
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(plan("p114_boilerplate_spans")).size
    assert(shuffles === 0, s"expected 0 hash shuffles, saw $shuffles")
  }

  test("p111: stored LSH probe pushes the signature filter into the parquet scan") {
    val p = plan("p111_lsh_probe_stored")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*sig_h.*"),
      "sig_h filter no longer reaches the LSH store scan")
  }

  test("p110: stored audio probe pushes the band filter into the parquet scan") {
    // same store device as p100 — the pin proves the isomorphic audio
    // layout kept partition pruning + row-group skipping
    val p = plan("p110_audio_probe_stored")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*band_v.*"),
      "band_v filter no longer reaches the audio store scan")
  }

  test("p102: the weight model joins broadcast (scoring stays map-side)") {
    val p = plan("p102_perceptron_quality")
    assert(p.contains("BroadcastHashJoin"),
      "the B-bounded weight table stopped broadcasting — per-round " +
      "scoring would shuffle the corpus on the bucket key")
  }

  test("q52: salted join stays a shuffled hash join (replicated dim never broadcast)") {
    val p = plan("q52_salted_join")
    assert(p.contains("ShuffledHashJoin"), "salted join lost its shuffle-hash hint")
    assert(!p.contains("BroadcastHashJoin"),
      "AQE broadcast the S-times-replicated dim — salting is then a no-op " +
      "locally and impossible at scale")
  }

  test("p30: the benchmark shingle index broadcasts (corpus side never shuffles to the join)") {
    val p = plan("p30_contamination")
    assert(p.contains("BroadcastHashJoin"), "bench index should broadcast")
  }

  test("p39: weighted sample plans as a bounded top-n, never a global sort") {
    val p = plan("p39_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "A-Res top-n lost its bounded-heap plan")
    assert(!p.contains("Exchange hashpartitioning"), "unexpected hash shuffle")
  }

  test("p41: the stored IVF probe scan prunes partitions to the probed cells") {
    val p = plan("p41_sim_ivf_stored")
    assert(p.contains("dynamicpruningexpression"),
      "stored IVF scan lost dynamic partition pruning — every probe would rescan the corpus")
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      "cell is no longer a partition column of the stored layout")
  }

  test("p115: the stored embedding near-dup probe prunes partitions to the probed cells") {
    // the p41 layout serving the fourth stored-probe modality: the
    // near-dup scan must keep the same dynamic cell prune — without it
    // every arriving batch rescans the whole vector corpus
    val p = plan("p115_semdedup_stored")
    assert(p.contains("dynamicpruningexpression"),
      "stored near-dup scan lost dynamic partition pruning")
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      "cell is no longer a partition column of the probed layout")
  }

  test("p65: the filtered probe keeps partition pruning and broadcasts the allowed set") {
    val p = plan("p65_sim_filtered")
    assert(p.contains("dynamicpruningexpression"),
      "metadata semi-join broke dynamic partition pruning — the filtered probe would rescan all cells")
    assert(p.contains("LeftSemi"),
      "the metadata predicate is no longer a semi-join (duplicate-safe filter placement)")
    assert(!p.contains("SortMergeJoin"),
      "a dimension-sized allowed set degraded to a sort-merge join")
  }

  test("p43: corpus pays one source shuffle; the quota table broadcasts off one thin scan") {
    val p = plan("p43_mix_temperature")
    // rank-window shuffle + the per-source count shuffle — nothing else
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, s"expected 2 hash shuffles, saw $shuffles")
    assert("FileScan parquet".r.findAllIn(p).size === 2,
      "counts subtree evaluated more than once (or an extra corpus scan appeared)")
    assert(p.contains("BroadcastHashJoin"), "quota table no longer broadcasts")
    assert(!p.contains("SortMergeJoin"), "quota join degraded to sort-merge")
  }

  test("p44: the cell report is map-only up to a single aggregate shuffle") {
    val p = plan("p44_ivf_cell_stats")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1, s"expected 1 hash shuffle, saw $shuffles")
    assert("FileScan parquet".r.findAllIn(p).size === 1, "corpus scanned twice")
  }

  test("q61: the event stream shuffles once; the window expansion runs on the hourly table") {
    val p = plan("q61_sliding_distinct_hll")
    // hour partial-agg shuffle + window-position sketch-merge shuffle,
    // nothing else; the x3 Generate(explode) must sit ABOVE the first
    // aggregate (hourly rows), not on the scan side below it
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 2, s"expected 2 hash shuffles, saw $shuffles")
    val gen = p.indexOf("Generate explode")
    // sketch aggregates plan as ObjectHashAggregate; match any Aggregate
    val deepestAgg = p.lastIndexOf("Aggregate")
    assert(gen >= 0 && gen < deepestAgg,
      "window expansion no longer runs on the pre-aggregated hourly table")
  }

  test("p45: BM25 top-k is a bounded heap; stats and df broadcast to the scoring side") {
    val p = plan("p45_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 lost its bounded-heap plan (global sort would rank the corpus)")
    assert(p.contains("BroadcastHashJoin"), "df table no longer broadcasts")
    assert(!p.contains("SortMergeJoin"), "a model-sized join degraded to sort-merge")
  }

  test("p46: both retrieval arms end in bounded heaps before the fusion join") {
    val p = plan("p46_hybrid_rrf")
    val heaps = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(heaps >= 2,
      s"expected both arms + fusion as bounded top-n, saw $heaps TakeOrderedAndProject")
  }

  test("p47: PQ encoding is map-only — no hash shuffle anywhere") {
    val p = plan("p47_pq_codes")
    assert(!p.contains("Exchange hashpartitioning"),
      "PQ encode gained a shuffle — assignment must stay a broadcast-model map")
  }

  test("p48: ADC search pays only the rank shuffle; the LUT frame broadcasts per subspace") {
    val p = plan("p48_pq_adc")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles === 1, s"expected 1 hash shuffle (qid rank window), saw $shuffles")
    // one map-side broadcast hash join per subspace against the
    // model-sized LUT frame — the shape that scales to nCodes=256 ×
    // thousands of queries; a sort-merge join here would mean the
    // corpus shuffled on a LUT key
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 4, s"expected >=4 LUT broadcast joins (one per subspace), saw $bhj")
    assert(!p.contains("SortMergeJoin"), "a LUT join degraded to sort-merge")
    // the m subspace joins share ONE broadcast of the unfiltered LUT
    // frame (fused s·2²⁰+code key): runtime reuse must collapse the
    // builds — only the executed (final) plan shows ReusedExchange
    val df = SparkEntry.queries("p48_pq_adc")(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
      .split("\\+\\- == Initial Plan ==")(0)
    assert("ReusedExchange".r.findAllIn(executed).size >= 2,
      "LUT broadcast no longer reused across subspace joins")
  }

  test("p50: the posting scan prunes buckets to the query terms' hashes") {
    val p = plan("p50_bm25_stored")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, "posting scan lost bucket pruning (no SelectedBucketsCount)")
    val (sel, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(total === 8 && sel <= 3,
      s"3 query terms should prune to <=3 of 8 buckets, scan reads $sel of $total")
    // the positional upgrade must cost BM25 nothing: column pruning
    // keeps the positions array out of the BM25 scan entirely
    assert(!p.contains("positions"),
      "BM25 posting scan reads the positions column it never uses")
    // df comes from a window over the term-partitioned bucketed scan,
    // so the pruned buckets are read ONCE (the join form scanned them
    // twice — ScaleProbe measured 2× probe bytes): exactly one FileScan
    // of the posting table (the second "graft_postings" scan is the
    // 1-row _stats table), and no exchange inserted for the window
    // (anchor on the output column list — the [term#… scan is the
    // posting table; the stats table's list starts [n#…)
    val postingScans = "Scan parquet [^\\n\\[]*\\[term#".r.findAllIn(p).size
    assert(postingScans === 1,
      s"expected exactly 1 posting-table scan, saw $postingScans")
    assert("Exchange hashpartitioning\\(term".r.findFirstIn(p).isEmpty,
      "term window gained a shuffle — bucketed scan partitioning not used")
  }

  test("p58: the stored phrase scan bucket-prunes and reads positions only") {
    val p = plan("p58_phrase_stored")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, "phrase scan lost bucket pruning")
    assert(m.get.group(1).toInt <= 2 && m.get.group(2).toInt === 8,
      s"2 phrase terms should prune to <=2 of 8 buckets")
    assert(p.contains("positions"), "phrase scan no longer reads positions")
    // and the cut stays a bounded heap, not a global sort
    assert(p.contains("TakeOrderedAndProject"), "phrase top-k lost its bounded heap")
  }

  test("p51/p53: span extraction stays at two keyed shuffles; vocab encode at one plus a broadcast") {
    val p51 = plan("p51_dup_spans")
    val s51 = "Exchange hashpartitioning".r.findAllIn(p51).size
    assert(s51 <= 2, s"dup-span extraction grew to $s51 hash shuffles")
    val p53 = plan("p53_vocab_encode")
    val s53 = "Exchange hashpartitioning".r.findAllIn(p53).size
    // one partial-aggregated term shuffle (model-sized after map-side
    // combine); the encode join must broadcast the vocab, never
    // sort-merge the token stream
    assert(s53 === 1, s"vocab encode saw $s53 hash shuffles")
    assert(p53.contains("BroadcastHashJoin"), "vocab no longer broadcasts")
    assert(!p53.contains("SortMergeJoin"), "token stream shuffled into the encode join")
  }

  test("p74: the quality gate is map-only — its sole exchange is the oracle sort") {
    val p = plan("p74_quality_rules")
    assert(!p.contains("Exchange hashpartitioning"),
      "the per-rule verdicts shuffled — the gate must pipeline into the scan")
    // statistics come from the row's own token array, never a corpus agg
    assert(!p.contains("HashAggregate"), "a corpus aggregate crept into the gate")
  }

  test("p75: the global shard rank never runs a single-partition corpus window") {
    val p = plan("p75_shard_manifest")
    // the TwoLevel device: per-shard windows partitioned by the derived
    // shard key, plus a broadcast offset table — a corpus-wide
    // Window.orderBy with no partitioning would appear as an Exchange
    // SinglePartition feeding a Window
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    // the <=shards-row offset table legitimately uses one (bounded) global
    // window; the corpus-sized path must not
    assert(single <= 1, s"saw $single single-partition exchanges — the corpus is being globally sorted on one task")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "shard offsets no longer broadcast")
  }

  // (q63/q64/q66 iterate through eager localCheckpoints, so the
  // registered query's final plan is a scan of the checkpointed result
  // — their per-round shapes are exercised live by Batch9Spec's
  // differentials instead of a plan-text pin.)

  test("p80: both PRF scoring passes broadcast their term sets") {
    val p = plan("p80_rm3_expand")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "a term-set join stopped broadcasting — the corpus would shuffle per scoring pass")
  }

  test("p49: the IVF-PQ probe scan prunes partitions to the probed cells") {
    val p = plan("p49_ivfpq_stored")
    assert(p.contains("dynamicpruningexpression"),
      "stored IVF-PQ scan lost dynamic partition pruning — every probe would rescan the store")
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      "cell is no longer a partition column of the IVF-PQ layout")
    // the STORE scan serves codes only (the query-side scan of the raw
    // embeddings table is the one allowed embedding read)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,c0:smallint"),
      "store scan no longer reads the code-only (smallint) schema")
    // the ADC LUT rides the same broadcast-frame path as p48
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "stored ADC lost the per-subspace LUT broadcast joins")
    assert(!p.contains("SortMergeJoin"), "a LUT join degraded to sort-merge")
  }

  test("p118: weights ride ONE window shuffle on canonical; only the driver-contracted label relation may broadcast") {
    val p = plan("p118_soft_dedup")
    // the contraction happens before this plan (the driver union-find
    // fast path yields a LOCAL relation of edge-involved nodes, bounded
    // by LabelStore.MaxDriverEdges); the weight layer itself must be
    // window-over-canonical + sort only
    assert(p.contains("Window"), "the per-cluster count left the window form")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
      "expected exactly the window's canonical shuffle")
    // what must never broadcast is a CORPUS-ORDER table (the per-doc
    // size table, or the docs side of the label attach) — that would
    // pass locally and OOM the driver at 100 TB. The evidence-bounded
    // contraction's LocalTableScan is the one permitted build side;
    // oversized evidence degrades it to a non-broadcast join upstream.
    // Checked on the plan tree: no file scan anywhere under a broadcast,
    // and every broadcast join's build side reads only local relations.
    val tree = physical("p118_soft_dedup")
    Aqe.collectWithSubqueries(tree) { case b: BroadcastExchangeExec => b }.foreach { b =>
      assert(b.collect { case f: FileSourceScanExec => f }.isEmpty,
        s"a corpus-side scan is being broadcast in p118:\n$b")
    }
    Aqe.collectWithSubqueries(tree) { case j: BroadcastHashJoinExec => j }.foreach { j =>
      val build = if (j.buildSide == BuildLeft) j.left else j.right
      assert(build.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]),
        s"p118's broadcast build side is not the driver-contracted local relation:\n$build")
    }
  }

  test("p119: the scoring pass broadcasts the B-bounded weights; the band roll-up aggregates map-side") {
    val p = plan("p119_calibration")
    assert(p.contains("BroadcastHashJoin"),
      "the weight model stopped broadcasting — scoring would shuffle the feature table")
    // two-phase aggregate on band: the exchange moves band-sized
    // partials, not per-document rows
    assert(p.contains("partial_count"),
      "band roll-up lost its map-side partial aggregation")
  }

  test("p122: the cumulative window runs over the bounded band table, not the corpus") {
    val p = plan("p122_threshold_curve")
    assert(p.contains("BroadcastHashJoin"),
      "the weight model stopped broadcasting — scoring would shuffle the feature table")
    // the corpus folds to <= 38 band rows map-side BEFORE any window:
    // the only hash exchanges are the band roll-up's (and upstream
    // scoring's doc_id agg); the window itself is single-partition
    // over the band-sized frame, which is the one place a
    // whole-frame window is scale-sound
    assert(p.contains("partial_sum"),
      "band roll-up lost its map-side partial aggregation")
    assert(p.contains("Window"), "the cumulative counts left the window form")
  }

  test("p141: the tombstone-aware posting read keeps bucket pruning and plans a broadcast anti-join") {
    // p141's memoized store carries a PENDING tombstone zone — the
    // deferred state the read tax exists for: the probe must keep the
    // bucketed scan's term pruning (the ≤|Q|-bucket read) AND exclude
    // the pending set via a BROADCAST anti-join (zone bounded by
    // takedowns-since-compaction), never an exchange on the postings
    val p = plan("p141_deferred_retraction_bm25")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, "deferred posting scan lost bucket pruning")
    assert(m.get.group(1).toInt <= 3 && m.get.group(2).toInt === 8,
      "3 query terms should still prune to <=3 of 8 buckets under the zone")
    assert("BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin".r
        .findFirstIn(p.replace("\n", " ")).isDefined,
      "the pending-tombstone exclusion is not a broadcast anti-join")
    // the per-doc scoring aggregate keeps its one legitimate doc_id
    // exchange; the anti-join itself must not add a shuffled join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the tombstone anti-join degraded to a shuffled join")
  }

  test("p151: the tombstone-aware IVF probe keeps dynamic cell pruning and plans a broadcast anti-join") {
    // the vector twin of the p141 pin: a PENDING zone on the cell store
    // must not cost the stored ANN probe its two scale properties — the
    // broadcast-probe join's dynamic partition pruning (nProbe/nCells
    // directories read, never the corpus) and a BROADCAST anti-join for
    // the pending set (bounded by takedowns-since-compaction)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // parquet-backed sides like the registered p41/p115 stores (DPP is
    // only planned when both join sides are file relations with
    // selective filters — a LocalRelation probe side never qualifies)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val cents = operators.Similarity.seedCentroids(emb, 8)
    val ivf = java.nio.file.Files.createTempDirectory("plan_p151_").toString
    operators.Similarity.ivfWrite(emb, cents, ivf)
    sources.Maintenance.tombstoneAppend(spark, ivf,
      Seq(2L).toDF("vec_id"), "vec_id")
    val p = operators.Similarity.ivfProbeNearDup(spark, ivf,
        emb.filter(col("vec_id") < 5), cents, tau = 0.9, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      "the pending zone cost the stored ANN probe its dynamic cell pruning")
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      "cell is no longer a partition column of the probed layout")
    assert("BroadcastHashJoin.*LeftAnti|LeftAnti.*BroadcastHashJoin".r
        .findFirstIn(p.replace("\n", " ")).isDefined,
      "the pending-tombstone exclusion is not a broadcast anti-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a join in the tombstone-aware probe degraded to a shuffled join")
  }
}
