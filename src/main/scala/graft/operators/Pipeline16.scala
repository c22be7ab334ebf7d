package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}

/** Pipeline operators, batch 16: the LIVE twins of the text decision
  * tables — p121's token-yield budgeting table (p133) and p113's
  * release card (p134) answered from the MAINTAINED text stores
  * ([[Pipeline14.textStoreRoot]]: the live label table + the live LSH
  * signature store that p123's ingestion fold keeps current) instead
  * of re-running the scan→shingle→MinHash→contraction pipeline per
  * refresh. This is the p130 discipline (video yield from live
  * stores) applied to the text modality: between ingests a release
  * pipeline refreshes its decision tables from index-store scans and
  * map-side corpus projections, never from a from-scratch near-dup
  * recompute. Both oracles are the from-scratch entries' VERBATIM —
  * the live refresh must land bit-identically on the recomputed
  * tables.
  */
object Pipeline16 {

  /** p133: the TOKEN-YIELD table refreshed from the LIVE label store —
    * p121's per-source budgeting output (doc count, raw whitespace
    * tokens, effective micro-tokens after soft-dedup down-weighting,
    * retention ppm) with the weights served by
    * [[LabelStore.weightsFromStore]] over the maintained label table
    * (p123's append-equals-rebuild state) instead of the from-scratch
    * shingle→MinHash→LSH→contraction chain p121 prices per run. The
    * token projection stays a map-side pass over the document scan
    * (tokenization is pennies next to the pair pipeline — the same
    * split p130 makes for video, where the decode is the expensive
    * part and geometry reads from the store).
    *
    * The store pair builds ONCE per JVM (the [[IndexStores]] memo) via
    * p123's fold loop — p123 prices the ingestion; this entry prices
    * the downstream refresh a deployment actually runs between
    * ingests. Oracle: p121's VERBATIM.
    */
  def tokenYieldLive(s: SparkSession, d: String): DataFrame = {
    val root = Pipeline14.textStoreRoot(s, d)
    Pipeline13.tokenYieldOf(documents(s, d),
        LabelStore.weightsFromStore(s, s"$root/labels"))
      .orderBy(col("source"))
  }

  /** p134: the RELEASE CARD refreshed from the LIVE signature store —
    * p113's per-source shipping table with the near-dup exposure
    * columns (within-source pairs, cross-source pair incidence) derived
    * from the maintained LSH store via [[Dedup.lshPairsFromStore]]
    * (one (band, sig_h) bucket group-by over 4 thin rows/doc) instead
    * of p113's from-scratch `minhashLshPairs` corpus pipeline. The
    * quality scorecard and contamination columns remain the map-side /
    * broadcast-bounded corpus passes they already are — cheap by the
    * same argument as p133's token projection; what the live store
    * replaces is exactly the expensive part (the shingle+MinHash scan
    * that dominates p113's cost).
    *
    * Oracle: p113's VERBATIM — the store-derived pair matrix must
    * reproduce the from-scratch card bit-identically (the xxhash64
    * signature keys stand in for band signatures with the stored
    * probes' own collision argument; a collision would surface here as
    * a differential mismatch).
    */
  def releaseCardLive(s: SparkSession, d: String): DataFrame = {
    val root = Pipeline14.textStoreRoot(s, d)
    Pipeline12.releaseCardWith(s, d,
      Pipeline8.crossSourceOverlapOf(documents(s, d),
        Dedup.lshPairsFromStore(s, s"$root/lsh")))
  }

  /** Ingestion batches of the registered incremental entry — the
    * shared p123/p126/p127/p128 slice discipline (`doc_id mod 3`
    * interleaves ids so canonical minima routinely arrive AFTER other
    * members, exercising the component-rewrite path).
    */
  private val IncBatches = 3

  /** p132: INCREMENTAL CROSS-MODAL dedup — p85's unified duplicate
    * resolution across all FOUR modalities kept LIVE under ingestion:
    * ONE label space whose evidence feeds are the four per-modality
    * published-corpus gates PLUS the same modalities' within-batch
    * relations, folded by the id-generic [[LabelStore]]. This closes
    * the last batch-only family: until now the four modality label
    * stores were live but SEPARATE, and a release consuming
    * cross-modal families re-paid p85's four-decode recluster per
    * refresh.
    *
    * Per batch, each modality decodes ONCE and feeds its three
    * consumers (within-batch pairs, the stored gate, the store
    * append):
    *
    *  - TEXT, exact: the (th, th2) 128-bit composite as 2-frame
    *    "clips" ([[Pipeline9.exactTextSigFrames]]) in a banded
    *    [[Multimodal.frameStoreWrite]] store; gate =
    *    [[Multimodal.videoNearDupStored]] at radius 0 (equal length +
    *    both frames aligned-equal IS (th, th2) equality);
    *    within-batch = p85's star edges
    *    ([[Pipeline9.exactTextPairsOf]]).
    *  - IMAGE: dHash rows as one-frame clips (the p128 audio shape);
    *    gate = [[Multimodal.frameProbeStoredDF]] at radius 3
    *    (banding-lossless, exact popcount verify); within-batch =
    *    [[Multimodal.perceptualNearDupPairs]].
    *  - AUDIO: p128's store/gate/pairs verbatim (60-bit profile
    *    fingerprint as one-frame clips).
    *  - VIDEO: p127's store/gate/pairs verbatim (banded frame store,
    *    anchor probe + equal-length aligned verify).
    *
    * The oracle is p85's from-scratch cross-modal contraction
    * VERBATIM — hash-matching it is the append-equals-rebuild proof
    * for the UNIFIED label space: the evidence union over batches is
    * exactly p85's pair relation (each modality's within-batch pairs
    * cover same-slice pairs, its gate covers batch-to-published
    * losslessly at its radius, and closure over the union equals the
    * full relation's closure — the four per-modality proofs composed
    * into one fold).
    *
    * Scale shape: per batch four decode passes (each map-side,
    * signatures not payloads in every shuffle), four banded
    * pair/probe stages (never all-pairs, never cartesian), ONE
    * evidence-bounded label fold (the union of four thin pair feeds),
    * and four band-partitioned appends; the published corpus is never
    * re-decoded — the from-scratch alternative repays four corpus
    * decodes + the full contraction per refresh.
    */
  def incrementalCrossModalLabels(s: SparkSession, d: String): DataFrame = {
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_incxm_${tag}_").toString
    val dirs = Seq("labels", "txt", "img", "aud", "vid").map(tmp)
    Pipeline14.withScratch(s, dirs: _*) {
      foldIncrementalCrossModalLabels(s, d, dirs(0), dirs(1), dirs(2),
        dirs(3), dirs(4))
      Pipeline14.cleanupAfter(
        LabelStore.read(s, dirs(0)).orderBy(col("doc_id")), dirs: _*)
    }
  }

  /** The p132 fold loop itself — batch slices in, the live unified
    * label store plus the four modality signature stores out — split
    * from the registered entry so the cross-modal release refresh
    * (p135) can build the SAME store set once per JVM instead of
    * re-pricing the ingestion p132 already prices.
    */
  private def foldIncrementalCrossModalLabels(s: SparkSession, d: String,
                                              labelPath: String,
                                              txtStore: String,
                                              imgStore: String,
                                              audStore: String,
                                              vidStore: String): Unit = {
    val docs = documents(s, d)
    for (i <- 0 until IncBatches) {
        val batch = docs
          .filter(pmod(col("doc_id"), lit(IncBatches.toLong)) === i.toLong)
        // ONE decode per modality per batch, three consumers each
        val tf = Prof.labeled(s, "xm.decode.txt") {
          Pipeline9.exactTextSigFrames(batch).localCheckpoint() }
        val dh = Prof.labeled(s, "xm.decode.img") {
          Multimodal.decodeRaster(Multimodal.attachRaster(batch))
            .select(col("doc_id"), col("dhash")).localCheckpoint() }
        val af = Prof.labeled(s, "xm.decode.aud") {
          Multimodal.decodeWave(Multimodal.attachWave(batch))
            .select(col("doc_id"), col("afp")).localCheckpoint() }
        val vf = Prof.labeled(s, "xm.decode.vid") {
          Multimodal.decodeVideoFrames(Multimodal.attachVideo(batch))
            .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
            .localCheckpoint() }
        val within = Pipeline9.exactTextPairsOf(batch)
          .union(Multimodal.perceptualNearDupPairs(dh, maxHamming = 3)
            .select(col("d1"), col("d2")))
          .union(Multimodal.perceptualNearDupPairs(
              af.select(col("doc_id"), col("afp").as("dhash")),
              maxHamming = 3)
            .select(col("d1"), col("d2")))
          .union(Multimodal.videoNearDupPairs(vf, maxHamming = 3)
            .select(col("d1"), col("d2")))
        val imgRows = dh.select(col("doc_id"), lit(0).as("frame"),
          col("dhash").as("fhash"))
        val audRows = af.select(col("doc_id"), lit(0).as("frame"),
          col("afp").as("fhash"))
        if (i == 0) {
          LabelStore.write(
            LabelStore.labelsFor(batch.select(col("doc_id")), within),
            labelPath)
          Prof.labeled(s, "xm.store0") {
            Multimodal.frameStoreWrite(
              tf.select(col("doc_id"), col("frame"), col("fhash")), txtStore)
            Multimodal.frameStoreWrite(imgRows, imgStore)
            Multimodal.frameStoreWrite(audRows, audStore)
            Multimodal.frameStoreWrite(
              vf.select(col("doc_id"), col("frame"), col("fhash")), vidStore)
          }
        } else {
          // the four published-corpus gates — batch ids are new by the
          // slice construction; the self-hit filters are the shared
          // defensive gate discipline
          val gT = Multimodal.videoNearDupStored(s, txtStore, tf,
              maxHamming = 0)
            .select(col("doc_id").as("d1"), col("dup_of").as("d2"))
          val gI = Multimodal.frameProbeStoredDF(s, imgStore,
              dh.select(col("doc_id").as("qid"), col("dhash").as("qhash")),
              maxHamming = 3)
            .filter(col("doc_id") =!= col("qid"))
            .select(col("qid").as("d1"), col("doc_id").as("d2"))
          val gA = Multimodal.frameProbeStoredDF(s, audStore,
              af.select(col("doc_id").as("qid"), col("afp").as("qhash")),
              maxHamming = 3)
            .filter(col("doc_id") =!= col("qid"))
            .select(col("qid").as("d1"), col("doc_id").as("d2"))
          val gV = Multimodal.videoNearDupStored(s, vidStore, vf,
              maxHamming = 3)
            .select(col("doc_id").as("d1"), col("dup_of").as("d2"))
          LabelStore.update(s, labelPath, batch.select(col("doc_id")),
            within.union(gT).union(gI).union(gA).union(gV))
          Prof.labeled(s, "xm.append") {
            Seq((tf.select(col("doc_id"), col("frame"), col("fhash")), txtStore),
                (imgRows, imgStore), (audRows, audStore),
                (vf.select(col("doc_id"), col("frame"), col("fhash")), vidStore))
              .foreach { case (rows, store) =>
                graft.sources.Partitioned.appendBy(
                  Multimodal.bandFrames(rows)
                    .withColumn("ingest_batch", lit(i.toLong)),
                  store, "band_i")
              }
          }
        }
      }
  }

  /** The memoized CROSS-MODAL store set — p132's fold loop run ONCE
    * per JVM per dataset (label table + the four modality signature
    * stores under one root), so the downstream refresh entries price
    * only their reads against live state while p132 prices the
    * ingestion per rep — the [[Pipeline14.textStoreRoot]] discipline
    * on the unified label space.
    */
  private def crossModalStoreRoot(s: SparkSession, d: String): String =
    IndexStores.of("inc_xmodal_store", d) { p =>
      val dirs = Seq("labels", "txt", "img", "aud", "vid").map(t => s"$p/$t")
      foldIncrementalCrossModalLabels(s, d, dirs(0), dirs(1), dirs(2),
        dirs(3), dirs(4))
    }

  /** p135: the incremental RELEASE draw over the CROSS-MODAL label
    * space — the payoff the unified store exists for: a release that
    * consumes cross-modal duplicate families (one weight per family
    * spanning text/image/audio/video evidence) used to re-pay p85's
    * four-decode recluster per refresh; here it is p129/p131's
    * live-weights → p120 deterministic epoch draw over the MAINTAINED
    * unified label table — two index-store scans, no decode of any
    * modality. Third label space through the same sampling device:
    * the modality-genericity proof now includes the cross-modal case.
    *
    * Oracle: p85's from-scratch label CTEs under p120's weight + draw
    * CTEs — the chained differential, epoch grid from p120's own
    * constant.
    */
  def incrementalCrossModalRelease(s: SparkSession, d: String): DataFrame = {
    val root = crossModalStoreRoot(s, d)
    Pipeline13.softDedupSampleOf(
        LabelStore.weightsFromStore(s, s"$root/labels"),
        Pipeline13.SampleEpochs)
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** Retraction share of the registered entry: every tenth document
    * (`doc_id % 10 == 7`) is withdrawn — enough removals at every SF
    * to hit canonical removals, component splits AND kept components
    * in one differential.
    */
  private[operators] val RetractMod = 10L
  private[operators] val RetractRem = 7L

  /** p136: the RETRACTION path under the full differential oracle —
    * [[LabelStore.remove]] proven by DuckDB, not only by its specs:
    * build the live text stores (label table + LSH signature store),
    * withdraw every tenth document with the store-derived pair
    * relation as the surviving evidence
    * ([[Dedup.lshPairsFromStore]] — the documented always-safe form of
    * the evidence-source contract), and emit the post-removal label
    * table. The oracle recomputes the from-scratch contraction OF THE
    * SURVIVING CORPUS (p118's pair CTEs restricted to survivors — the
    * restriction commutes because LSH candidate pairs are per-document
    * signature collisions, so removing documents never changes the
    * pairs among the rest), which is exactly the remove-equals-rebuild
    * claim: takedown compliance without a from-scratch recluster.
    *
    * Scale shape: one store build (the entry prices the retraction's
    * operational context), then the removal itself — removed rows
    * resolve bucket-pruned, member rows via one broadcast canonical
    * probe, the recontraction is evidence-bounded, and only buckets
    * holding an affected row rewrite (emptied ones DELETE via the
    * stage's bucket manifest).
    */
  def retractionLabels(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_retract_${tag}_").toString
    val labelPath = tmp("labels"); val lshPath = tmp("lsh")
    Pipeline14.withScratch(s, labelPath, lshPath) {
      Dedup.lshStoreWrite(
        Dedup.lshSignatureRows(docs, "doc_id", "text",
          n = PipelineQueries.ShingleN, numHashes = 16, bands = 4),
        lshPath)
      LabelStore.write(
        Dedup.dedupClusters(docs, "doc_id",
          Dedup.minhashLshPairs(docs, "doc_id", "text",
            n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)),
        labelPath)
      LabelStore.remove(s, labelPath,
        docs.filter(pmod(col("doc_id"), lit(RetractMod)) === RetractRem)
          .select(col("doc_id")),
        Dedup.lshPairsFromStore(s, lshPath))
      Pipeline14.cleanupAfter(
        LabelStore.read(s, labelPath).orderBy(col("doc_id")),
        labelPath, lshPath)
    }
  }

  /** p136 oracle: p118's pair CTEs restricted to the surviving corpus,
    * then the closure + min-label device over survivors only — the
    * from-scratch rebuild the removal must land on bit-identically.
    */
  /** The surviving-corpus label CTE chain (p118's pairs restricted to
    * survivors, closed and min-labeled) WITHOUT the final select —
    * shared by the p136 oracle and p137/p138's post-retraction
    * compositions so the three differentials cannot diverge on what
    * "the from-scratch rebuild of the survivors" means.
    */
  private[operators] val survivorLabelCtes: String =
    s"""${PipelineQueries.lshPairCtes},
       |surv AS (SELECT doc_id FROM documents
       |         WHERE doc_id % $RetractMod <> $RetractRem),
       |sp AS (SELECT d1, d2 FROM prs
       |       JOIN surv s1 ON prs.d1 = s1.doc_id
       |       JOIN surv s2 ON prs.d2 = s2.doc_id),
       |e AS (SELECT d1 AS a, d2 AS b FROM sp UNION SELECT d2, d1 FROM sp),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
       |lab AS (
       |  SELECT d.doc_id,
       |         CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
       |           AS canonical
       |  FROM surv d LEFT JOIN comp c ON d.doc_id = c.doc_id)""".stripMargin

  val retractionLabelsOracle: String =
    s"""WITH RECURSIVE $survivorLabelCtes
       |SELECT doc_id, canonical FROM lab ORDER BY doc_id""".stripMargin

  /** p135 oracle: p85's from-scratch label CTEs under p120's weight +
    * draw CTEs — the chained differential over the third label space
    * (the p131 pattern on the cross-modal families), epoch grid from
    * p120's own constant.
    */
  val incrementalCrossModalReleaseOracle: String =
    s"""WITH RECURSIVE ${Pipeline9.multimodalLabelCtes},
       |${Pipeline13.releaseDrawTail}""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // p85's from-scratch oracle verbatim: append equals rebuild for the
    // cross-modal label space
    QuerySpec("p132_incremental_crossmodal", incrementalCrossModalLabels,
      Some(Pipeline9.multimodalDedupOracle), Pricing.Ingestion),
    QuerySpec("p135_crossmodal_release_live", incrementalCrossModalRelease,
      Some(incrementalCrossModalReleaseOracle)),
    // remove equals rebuild: the from-scratch contraction of survivors
    QuerySpec("p136_retraction_labels", retractionLabels,
      Some(retractionLabelsOracle), Pricing.Retraction),
    // p121's from-scratch oracle verbatim: live weights reproduce the
    // recomputed yield table
    QuerySpec("p133_token_yield_live", tokenYieldLive,
      Some(Pipeline13.tokenYieldOracle)),
    // p113's from-scratch oracle verbatim: the store-derived pair
    // matrix reproduces the recomputed card
    QuerySpec("p134_release_card_live", releaseCardLive,
      Some(Pipeline12.releaseCardOracle)),
  )
}
