package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}

/** Pipeline operators, batch 17: RETRACTION REACHES RETRIEVAL AND THE
  * RELEASE. p136 proved the label-store takedown
  * (remove-equals-rebuild under the full differential); this batch
  * proves the other two halves of a real takedown's blast radius under
  * the same oracle discipline:
  *
  *  - p137: a withdrawn document must stop being RETRIEVABLE — the
  *    posting store loses its rows AND the BM25 statistics decrement
  *    exactly, so ranking over the survivors is bit-identical to a
  *    from-scratch index of the surviving corpus (not "the doc is
  *    filtered out but still skews idf/avgdl").
  *  - p138: a withdrawal must reach the RELEASE — the post-takedown
  *    epoch draw over the live weights equals the from-scratch draw
  *    over the surviving corpus, including the survivors whose
  *    sampling weight RISES because their cluster shrank.
  *
  * Both run the actual composed handlers
  * ([[graft.streaming.StreamingOps.lexicalRetractBatch]],
  * [[graft.streaming.StreamingOps.dedupRetractBatch]]) in the
  * registered path, so the deployment code itself carries a DuckDB
  * differential, not just its specs.
  */
object Pipeline17 {

  /** batch_id of the registered retraction in the stats table's
    * namespace (ingests are >= 0, the build row is -1; retractions
    * use <= -2 — the [[graft.streaming.StreamingOps.lexicalRetractBatch]]
    * contract).
    */
  private val RetractBatchId = -2L

  /** The retracted id set — Pipeline16's split (every tenth document),
    * shared so p136/p137/p138 withdraw the SAME documents and the
    * three oracles' `surv` relations agree.
    */
  private[operators] def retractIds(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Pipeline16.RetractMod))
        === Pipeline16.RetractRem)
      .select(col("doc_id"))

  /** p137: POST-RETRACTION stored BM25 — the retrieval half of a
    * takedown: build the term-bucketed posting store over the full
    * corpus, withdraw every tenth document through the composed
    * lexical retraction handler, and answer the registered BM25 top-k
    * from what remains. The oracle computes BM25 from scratch over the
    * SURVIVING corpus, so the differential checks all three things a
    * lexical takedown must get right at once: the retracted docs'
    * posting rows are gone (they can no longer rank), the surviving
    * rows are intact (nobody else's tf/dl moved), and the global
    * statistics decremented EXACTLY (idf and avgdl are corpus-level —
    * a stale n or sdl shifts every survivor's score, which round(·,4)
    * would surface; the negative stats row's long arithmetic is what
    * makes this bit-exact rather than drifting).
    *
    * Scale shape: the entry prices the takedown's operational context
    * end to end per rep — one store build (the one-off index cost),
    * one staged bucket-preserving rewrite (the documented full-rewrite
    * price of a term-bucketed layout, why deployments batch
    * takedowns), and the steady-state pruned probe (≤|Q| buckets).
    */
  def retractionBm25(s: SparkSession, d: String): DataFrame = {
    val t = "graft_retract_postings_" + d.replaceAll("[^A-Za-z0-9]", "_")
    val docs = documents(s, d)
    Pipeline6.postingsWrite(docs, t, nBuckets = 8)
    graft.streaming.StreamingOps.lexicalRetractBatch(
      s, t, nBuckets = 8, retractId = RetractBatchId)(retractIds(docs))
    Pipeline6.bm25TopKStored(s, t, k = 20)
  }

  /** p137 oracle: the registered BM25 chain ([[Pipeline6.bm25CteFrom]])
    * pointed at the surviving corpus — from-scratch stats, df and
    * scores over survivors only.
    */
  val retractionBm25Oracle: String =
    s"""WITH sdocs AS (SELECT * FROM documents
       |  WHERE doc_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |${Pipeline6.bm25CteFrom("sdocs")},
       |top AS (SELECT doc_id, score,
       |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
       |            AS rnk
       |        FROM per)
       |SELECT doc_id, round(score, 4) AS bm25, rnk
       |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** The one build behind the text memos: the full-corpus label table
    * + LSH signature store of memo `family`, built once per JVM per
    * dataset, then `takedown(spark, lsh, labels, ids)` over the
    * [[retractIds]] documents and, with `compact`, the banded store's
    * applying compaction.
    */
  private def textTakedownRoot(s: SparkSession, d: String, family: String,
      takedown: (SparkSession, String, String, DataFrame) => Long,
      compact: Boolean = false): String =
    IndexStores.of(family, d) { p =>
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      Dedup.lshStoreWrite(
        Dedup.lshSignatureRows(docs, "doc_id", "text",
          n = PipelineQueries.ShingleN, numHashes = 16, bands = 4),
        s"$p/lsh")
      LabelStore.write(
        Dedup.dedupClusters(docs, "doc_id",
          Dedup.minhashLshPairs(docs, "doc_id", "text",
            n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)),
        s"$p/labels")
      takedown(s, s"$p/lsh", s"$p/labels", retractIds(docs))
      if (compact) {
        Dedup.lshStoreCompact(s, s"$p/lsh", s"$p/lsh__compact")
        graft.streaming.StreamingOps.swapInCompacted(s, s"$p/lsh")
      }
    }

  /** The post-retraction TEXT store pair, built ONCE per JVM per
    * dataset (the IndexStores memo): the live label table + LSH
    * signature store over the full corpus, then the composed text
    * takedown ([[graft.streaming.StreamingOps.dedupRetractBatch]] —
    * labels recontract from the store-derived evidence, signatures
    * leave the store). p136 prices the retraction itself per rep;
    * this memo serves the DOWNSTREAM refresh p138 prices.
    */
  private def retractedTextRoot(s: SparkSession, d: String): String =
    textTakedownRoot(s, d, "retract_text_store",
      graft.streaming.StreamingOps.dedupRetractBatch(_, _, _)(_))

  /** p138: the POST-RETRACTION release draw — takedown composed with
    * the release chain: live weights from the post-removal label table
    * ([[LabelStore.weightsFromStore]] — the p129 device) into p120's
    * deterministic epoch draw. The oracle chains the from-scratch
    * contraction OF THE SURVIVING CORPUS (p136's `lab` CTEs verbatim)
    * under the weight window and the md5 draw, so the differential
    * pins the takedown's release semantics: withdrawn documents never
    * appear in any epoch, and each affected cluster's SURVIVORS are
    * drawn at their RAISED weight (`1e6 div` the post-removal cluster
    * size) — a release that kept sampling at stale weights would
    * under-represent exactly the families the takedown touched.
    *
    * Scale shape: the store pair builds once (memoized); the refresh
    * itself is one label-table scan + the window count + a broadcast
    * epoch grid — no corpus rescan, no signature recompute (the
    * p129/p130 between-ingests discipline).
    */
  def retractionRelease(s: SparkSession, d: String): DataFrame = {
    val root = retractedTextRoot(s, d)
    Pipeline13.softDedupSampleOf(
        LabelStore.weightsFromStore(s, s"$root/labels"),
        Pipeline13.SampleEpochs)
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** p138 oracle: the surviving-corpus label chain
    * ([[Pipeline16.survivorLabelCtes]]) under p120's weight + draw
    * CTEs — the chained differential, epoch grid from p120's own
    * constant.
    */
  val retractionReleaseOracle: String =
    s"""WITH RECURSIVE ${Pipeline16.survivorLabelCtes},
       |${Pipeline13.releaseDrawTail}""".stripMargin

  /** The DEFERRED-takedown text store, built once per JVM per dataset:
    * full-corpus label + LSH stores, then the deferred handler
    * ([[graft.streaming.StreamingOps.dedupRetractDeferred]] — labels
    * recontract now, the signature rows only TOMBSTONE; the physical
    * rewrite is left to the compaction cadence). Deliberately a
    * SEPARATE memo family from p138's eager store: p139 exists to
    * check the tombstoned state itself.
    */
  private def deferredTextRoot(s: SparkSession, d: String): String =
    textTakedownRoot(s, d, "defer_text_store",
      graft.streaming.StreamingOps.dedupRetractDeferred(_, _, _)(_))

  /** p139: the TOMBSTONE-AWARE reader under the full differential —
    * the deferred takedown's correctness rests entirely on every
    * store reader excluding the pending tombstone set, so this entry
    * checks exactly that mechanism: the pair relation derived FROM the
    * tombstoned store ([[Dedup.lshPairsFromStore]], the decision
    * tables' live pair source) must hash-match the from-scratch LSH
    * pair relation OF THE SURVIVING CORPUS, even though the withdrawn
    * documents' signature rows are still physically present in the
    * store (only queued in the zone — the restriction commutes because
    * LSH candidate pairs are per-document signature collisions). p136
    * checks the label half of a takedown; this checks the read half of
    * the DEFERRED store state that exists between a takedown and its
    * applying compaction.
    *
    * Scale shape: the store pair builds once (memoized); the entry
    * itself is one (band, sig_h) bucket group-by over the store's thin
    * rows plus a broadcast anti-join against the pending set — the
    * deferred design's steady-state read tax, priced.
    */
  def deferredRetractionPairs(s: SparkSession, d: String): DataFrame = {
    val root = deferredTextRoot(s, d)
    Dedup.lshPairsFromStore(s, s"$root/lsh")
      .orderBy(col("d1"), col("d2"))
  }

  /** p139 oracle: p04's pair CTEs restricted to the survivors — the
    * from-scratch pair relation the tombstone-aware read must land on.
    */
  val deferredRetractionPairsOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes},
       |surv AS (SELECT doc_id FROM documents
       |  WHERE doc_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |sp AS (SELECT d1, d2 FROM prs
       |       JOIN surv s1 ON prs.d1 = s1.doc_id
       |       JOIN surv s2 ON prs.d2 = s2.doc_id)
       |SELECT d1, d2 FROM sp ORDER BY d1, d2""".stripMargin

  /** p140: the VECTOR retraction under the full differential — p136's
    * remove-equals-rebuild claim proven by DuckDB on the SECOND label
    * space: build the live vector stores (the p41 cell layout + the
    * τ-component label table over the exact cell-blocked τ-graph),
    * withdraw every tenth vector through the composed handler
    * ([[graft.streaming.StreamingOps.vectorRetractBatch]] — evidence
    * reconstructed from the store's own surviving embeddings,
    * component-bounded, the cell store rewritten CELL-PRUNED), and
    * emit the post-removal label table. The oracle recomputes the
    * from-scratch τ-contraction OF THE SURVIVING VECTORS (the
    * restriction commutes because the τ-relation is pairwise), so the
    * differential pins the same three things as the text twin: the
    * withdrawn labels are gone, affected components recontract
    * correctly (splits included), and untouched components are
    * byte-stable. Registered at `nProbe = nCells` where the handler's
    * recontraction relation is exactly the survivors' τ-graph — what
    * makes the from-scratch oracle reachable (the p126 discipline).
    *
    * Scale shape: one store + label build (the retraction's
    * operational context, priced per rep), then the removal — member
    * lookups bucket-pruned, evidence cell-blocked over the affected
    * components' survivors only, the cell store rewrite pruned to the
    * retracted ids' cells.
    */
  def retractionVectorLabels(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_vret_${tag}_").toString
    val ivfPath = tmp("ivf"); val labelPath = tmp("labels")
    Pipeline14.withScratch(s, ivfPath, labelPath) {
      val cents = Similarity.seedCentroids(emb, 8)
      Similarity.ivfWrite(emb, cents, ivfPath)
      LabelStore.write(
        LabelStore.labelsFor(emb.select(col("vec_id").as("doc_id")),
          Similarity.cellBlockedTauPairs(emb, cents, Pipeline14.VecTau,
            nProbe = cents.length)),
        labelPath)
      graft.streaming.StreamingOps.vectorRetractBatch(
        s, ivfPath, labelPath, cents, Pipeline14.VecTau,
        nProbe = cents.length)(
        emb.filter(pmod(col("vec_id"), lit(Pipeline16.RetractMod))
            === Pipeline16.RetractRem)
          .select(col("vec_id")))
      Pipeline14.cleanupAfter(
        LabelStore.read(s, labelPath).orderBy(col("doc_id")),
        ivfPath, labelPath)
    }
  }

  /** p140 oracle: the from-scratch τ-contraction of the surviving
    * vectors — p126's pair/closure/label CTEs restricted to survivors.
    */
  val retractionVectorLabelsOracle: String = {
    val cos = PipelineQueries.duckCos("a.embedding", "b.embedding")
    s"""WITH RECURSIVE sv AS (SELECT * FROM embeddings
       |  WHERE vec_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |vp AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM sv a JOIN sv b ON b.vec_id > a.vec_id
       |  WHERE $cos >= ${Pipeline14.VecTau}),
       |e AS (SELECT d1 AS a, d2 AS b FROM vp UNION SELECT d2, d1 FROM vp),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS vec_id, min(b) AS mn FROM r GROUP BY a),
       |lab AS (
       |  SELECT v.vec_id,
       |         CAST(coalesce(least(c.vec_id, c.mn), v.vec_id) AS BIGINT)
       |           AS canonical
       |  FROM sv v LEFT JOIN comp c ON v.vec_id = c.vec_id)
       |SELECT CAST(vec_id AS BIGINT) AS doc_id, canonical
       |FROM lab ORDER BY doc_id""".stripMargin
  }

  /** The DEFERRED-takedown posting store, built once per JVM per
    * dataset: full-corpus term-bucketed index, then the deferred
    * lexical handler ([[graft.streaming.StreamingOps
    * .lexicalRetractDeferred]] — the exact negative stats row lands
    * NOW, the retracted ids only TOMBSTONE; the physical rewrite is
    * left to the compaction cadence, disabled here so the entry probes
    * the tombstoned state itself). p137's eager twin rebuilds per rep
    * (pricing the full-rewrite takedown); this memo serves the
    * steady-state tombstone-aware READ p141 prices.
    */
  private val deferStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** ONE builder for both lexical lifecycle endpoints: full-corpus
    * store + deferred takedown (compaction triggers disabled so the
    * tombstoned state persists), optionally followed by the applying
    * compaction — p141 and p146 must share the build verbatim or the
    * two endpoints silently diverge.
    */
  private def deferredStoreFor(s: SparkSession, d: String, prefix: String,
                               compactAfter: Boolean): String =
    deferStores.computeIfAbsent(prefix + d, _ => {
      val t = prefix + d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = documents(s, d)
      Pipeline6.postingsWrite(docs, t, nBuckets = 8)
      graft.streaming.StreamingOps.lexicalRetractDeferred(
        s, t, nBuckets = 8, retractId = RetractBatchId,
        compactMaxFiles = 0)(retractIds(docs))
      if (compactAfter)
        graft.sources.Bucketed.compactBucketed(s, t, "term", 8)
      t
    })

  private def deferredPostingsFor(s: SparkSession, d: String): String =
    deferredStoreFor(s, d, "graft_defer_postings_", compactAfter = false)

  /** p141: the TOMBSTONE-AWARE BM25 read — the deferred lexical
    * takedown's correctness differential, completing the family p139
    * opened for the banded stores: between a deferred takedown and its
    * applying compaction the withdrawn documents' posting rows are
    * still physically present (only queued in the table directory's
    * zone), yet the registered BM25 top-k over that state must
    * hash-match a FROM-SCRATCH index of the surviving corpus (p137's
    * oracle, reused verbatim) — which checks all three deferred-read
    * obligations at once: every stored probe anti-joins the pending
    * set (withdrawn docs cannot rank), the survivors' rows are
    * untouched (no tf/dl moved), and the stats table's negative commit
    * record decremented idf/avgdl EXACTLY even though the rows remain.
    *
    * Scale shape: the store + deferred takedown build once (memoized);
    * the entry itself is the steady-state deferred read — a ≤|Q|-bucket
    * pruned posting scan plus one broadcast anti-join against the
    * takedown-bounded pending set. The read tax is bounded by the
    * zone-count compaction trigger
    * ([[graft.sources.Bucketed.compactIfDueBucketed]]) and its curve
    * is measured in TakedownProbe/BASELINE.md.
    */
  def deferredRetractionBm25(s: SparkSession, d: String): DataFrame =
    Pipeline6.bm25TopKStored(s, deferredPostingsFor(s, d), k = 20)

  /** The deferred-then-COMPACTED posting store, built once per JVM per
    * dataset: p141's deferred takedown followed by the bucketed
    * compaction that applies it physically
    * ([[graft.sources.Bucketed.compactBucketed]] — the zone-count
    * trigger's action, forced deterministically here). p141 checks the
    * tombstoned state's reads; this memo serves p146, which checks the
    * OTHER end of the lifecycle: the compactor's tombstone-aware
    * rewrite (queued rows dropped, zone retired with the old table
    * directory) must land on the same survivor index.
    */
  private def compactedPostingsFor(s: SparkSession, d: String): String =
    deferredStoreFor(s, d, "graft_defcmp_postings_", compactAfter = true)

  /** p146: the POST-COMPACTION lexical state — the tombstone
    * lifecycle's second differential, completing p141: after the
    * applying compaction the withdrawn rows are physically gone and
    * the zone is retired, and the registered BM25 must STILL
    * hash-match the from-scratch survivor index (p137's oracle, third
    * reuse). This is the oracle on the round-14 compactor change
    * itself — a rewrite that forgot the anti-join would resurrect the
    * queued rows the moment the swap deleted their zone, and this
    * differential (not just a spec fixture) would catch it at sf
    * scale: scores of resurrected docs re-enter the top-k and every
    * survivor's idf shifts against the decremented stats.
    *
    * Scale shape: store + takedown + compaction build once (memoized);
    * the entry is the steady-state pruned probe over the clean store —
    * the post-compaction twin of p141's tombstone-aware read, so the
    * two entries also price the read tax's two endpoints.
    */
  def compactedRetractionBm25(s: SparkSession, d: String): DataFrame =
    Pipeline6.bm25TopKStored(s, compactedPostingsFor(s, d), k = 20)

  /** The deferred-then-COMPACTED text signature store — p139's memo
    * followed by the banded store's applying compaction
    * (`lshStoreCompact` + the checked-rename swap, exactly what
    * `compactIfDue` runs when the zone-count trigger fires). Serves
    * p147, the banded twin of p146.
    */
  private def compactedTextRoot(s: SparkSession, d: String): String =
    textTakedownRoot(s, d, "defcmp_text_store",
      graft.streaming.StreamingOps.dedupRetractDeferred(_, _, _)(_),
      compact = true)

  /** p147: the POST-COMPACTION banded state — p139's differential on
    * the other end of the banded lifecycle: after the compaction
    * applies the queued tombstones (rows dropped by the
    * tombstone-aware sorted rewrite, zone retired with the old store
    * copy), the pair relation derived from the store must STILL equal
    * the from-scratch LSH pairs of the surviving corpus — now with the
    * anti-join a provable no-op rather than the thing under test.
    * Together p139/p147 (banded) and p141/p146 (bucketed) pin both
    * endpoints of the deferred design for both store families.
    */
  def compactedRetractionPairs(s: SparkSession, d: String): DataFrame = {
    val root = compactedTextRoot(s, d)
    Dedup.lshPairsFromStore(s, s"$root/lsh")
      .orderBy(col("d1"), col("d2"))
  }

  /** The DEFERRED-takedown vector store, built once per JVM per
    * dataset: the p140 operational context (p41 cell layout +
    * τ-component labels at full fan-out) followed by the DEFERRED
    * handler ([[graft.streaming.StreamingOps.vectorRetractDeferred]] —
    * labels recontract now, the retracted vec_ids only queue in the
    * store's tombstone zone; the physical rewrite is left to the
    * compaction cadence so the entry probes the tombstoned state
    * itself). Completes the deferred family across every store kind:
    * banded (p139/p147), bucketed lexical (p141/p146), and now the
    * cell-partitioned vector layout.
    */
  private def deferredVectorRoot(s: SparkSession, d: String): String =
    IndexStores.of("defer_vec_store", d) { p =>
      val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .localCheckpoint()
      val cents = Similarity.seedCentroids(emb, 8)
      Similarity.ivfWrite(emb, cents, s"$p/ivf")
      LabelStore.write(
        LabelStore.labelsFor(emb.select(col("vec_id").as("doc_id")),
          Similarity.cellBlockedTauPairs(emb, cents, Pipeline14.VecTau,
            nProbe = cents.length)),
        s"$p/labels")
      graft.streaming.StreamingOps.vectorRetractDeferred(
        s, s"$p/ivf", s"$p/labels", cents, Pipeline14.VecTau,
        nProbe = cents.length)(
        emb.filter(pmod(col("vec_id"), lit(Pipeline16.RetractMod))
            === Pipeline16.RetractRem)
          .select(col("vec_id")))
    }

  /** p151: the TOMBSTONE-AWARE ANN read — the deferred VECTOR
    * takedown's correctness differential, the last store family
    * (verdict r14 item 3): between the deferred takedown and its
    * applying compaction the withdrawn vectors' rows are still
    * physically present in the cell layout (only queued in the zone),
    * yet the τ-contraction recomputed ENTIRELY from tombstone-aware
    * store reads — survivor ids AND embeddings from the cell scan,
    * their pair relation through the cell-blocked exact pass
    * ([[Similarity.cellBlockedTauPairs]] at full fan-out — p140's own
    * evidence device, whose candidate join is hash-partitioned by
    * cell, never a corpus-sized broadcast; the batch-sized stored
    * probe `ivfProbeNearDup` shares the same tombstone-aware corpus
    * side, PlanSpec/RetractionSpec-pinned) — must hash-match the
    * from-scratch τ-contraction of the surviving vectors (p140's
    * oracle, reused verbatim). A store read that forgot the anti-join
    * would let withdrawn vectors re-enter as pair endpoints AND as
    * label ids, and the differential catches both.
    *
    * Scale shape: the store + deferred takedown build once (memoized);
    * the entry prices the steady-state deferred read — the cell scan
    * plus one broadcast anti-join against the takedown-bounded pending
    * set — and the cell-blocked pair pass + contraction over the
    * survivors.
    */
  def deferredRetractionVectorLabels(s: SparkSession, d: String): DataFrame = {
    val root = deferredVectorRoot(s, d)
    val ivf = s"$root/ivf"
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val cents = Similarity.seedCentroids(emb, 8)
    // survivors FROM the store: the tombstone-aware scan is the read
    // under test — ids and embeddings both come from the deferred state
    val surv = graft.sources.Maintenance.minusTombstones(s, ivf,
        s.read.parquet(ivf))
      .select(col("vec_id"), col("embedding"))
    val pairs = Similarity.cellBlockedTauPairs(surv, cents,
      Pipeline14.VecTau, nProbe = cents.length)
    LabelStore.labelsFor(surv.select(col("vec_id").as("doc_id")), pairs)
      .orderBy(col("doc_id"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p137_retraction_bm25", retractionBm25,
      Some(retractionBm25Oracle), Pricing.Retraction),
    // p140's survivor oracle, matched by tombstone-aware reads of the
    // deferred vector store
    QuerySpec("p151_deferred_retraction_vector_labels",
      deferredRetractionVectorLabels, Some(retractionVectorLabelsOracle)),
    // p137's survivor oracle, matched by the tombstone-aware read of the
    // deferred lexical store
    QuerySpec("p141_deferred_retraction_bm25", deferredRetractionBm25,
      Some(retractionBm25Oracle)),
    // ...and again after the applying compaction
    QuerySpec("p146_compacted_retraction_bm25", compactedRetractionBm25,
      Some(retractionBm25Oracle)),
    // p139's survivor pairs, after the compaction applies the tombstones
    QuerySpec("p147_compacted_retraction_pairs", compactedRetractionPairs,
      Some(deferredRetractionPairsOracle)),
    QuerySpec("p138_retraction_release_live", retractionRelease,
      Some(retractionReleaseOracle)),
    QuerySpec("p139_deferred_retraction_pairs", deferredRetractionPairs,
      Some(deferredRetractionPairsOracle)),
    QuerySpec("p140_retraction_vector_labels", retractionVectorLabels,
      Some(retractionVectorLabelsOracle), Pricing.Retraction),
  )
}
