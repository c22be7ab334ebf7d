package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}

/** Pipeline operators, batch 18: the retraction family COMPLETED
  * across label spaces. p136/p140 proved remove-equals-rebuild for the
  * text and vector spaces and p138 proved the post-retraction release
  * draw for text; this batch closes the remaining asymmetries:
  *
  *  - p142: the post-retraction release draw over the VIDEO label
  *    space — a withdrawn clip must never surface in any epoch, and
  *    its family's surviving clips must draw at their RAISED weight.
  *  - p143: remove-equals-rebuild on the UNIFIED cross-modal label
  *    space — the composed takedown handler
  *    ([[graft.streaming.StreamingOps.multimodalRetractBatch]], all
  *    four modality stores + the label table) under the from-scratch
  *    contraction of the surviving corpus.
  *  - p144: the post-retraction release draw over the unified space —
  *    the takedown composed through to the cross-modal release.
  *
  * All three run the actual composed handlers in the registered path
  * and share one retracted-id definition with p136–p141
  * ([[Pipeline17.retractIds]] — every tenth document), so the
  * differentials' `surv` relations agree across the whole family. The
  * oracles close over SURVIVOR-restricted copies of the registered
  * pair CTEs ([[Pipeline10.videoPairCtes]] /
  * [[Pipeline9.multimodalPairCtes]]): restriction commutes at the
  * pair level (every evidence feed is pairwise) but deliberately NOT
  * through the closure — a family bridged only by a retracted
  * document must split, which is exactly what the handlers'
  * component-bounded recontraction is on the hook for.
  */
object Pipeline18 {

  /** The shared survivor-restricted closure tail: pairs already
    * restricted to survivors (`sp`), closed and min-labeled over the
    * surviving ids — the p136 `survivorLabelCtes` shape with the pair
    * source as a parameter, so the three spaces cannot diverge on what
    * "the from-scratch rebuild of the survivors" means.
    */
  private def survivorClosureTail(pairRel: String): String =
    s"""surv AS (SELECT doc_id FROM documents
       |         WHERE doc_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |sp AS (SELECT d1, d2 FROM $pairRel p
       |       JOIN surv s1 ON p.d1 = s1.doc_id
       |       JOIN surv s2 ON p.d2 = s2.doc_id),
       |se AS (SELECT d1 AS a, d2 AS b FROM sp UNION SELECT d2, d1 FROM sp),
       |sr AS (SELECT a, b FROM se
       |       UNION SELECT sr.a, se2.b FROM sr JOIN se se2 ON sr.b = se2.a),
       |scomp AS (SELECT a AS doc_id, min(b) AS mn FROM sr GROUP BY a),
       |lab AS (
       |  SELECT d.doc_id,
       |         CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
       |           AS canonical
       |  FROM surv d LEFT JOIN scomp c ON d.doc_id = c.doc_id)""".stripMargin

  /** p120's deterministic weight + epoch-draw tail over a `lab`
    * relation — the ONE shared definition ([[Pipeline13
    * .releaseDrawTail]]) every chained release oracle composes.
    */
  private def releaseDrawTail: String = Pipeline13.releaseDrawTail

  /** The one build behind the video memos: the full-corpus banded
    * frame store + clip-family label table of memo `family`, built once
    * per JVM per dataset from one decode pass (the p125 discipline),
    * then `takedown(spark, frames, labels, ids)` over the retracted
    * documents.
    */
  private def videoTakedownRoot(s: SparkSession, d: String, family: String,
      takedown: (SparkSession, String, String, DataFrame) => Long): String =
    IndexStores.of(family, d) { p =>
      val docs = documents(s, d)
      val frames = Multimodal.decodeVideoFrames(Multimodal.attachVideo(docs))
        .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
        .localCheckpoint()
      Multimodal.frameStoreWrite(
        frames.select(col("doc_id"), col("frame"), col("fhash")),
        s"$p/frames")
      graft.operators.LabelStore.write(
        Pipeline10.videoClusterLabelsOf(docs, frames), s"$p/labels")
      takedown(s, s"$p/frames", s"$p/labels", Pipeline17.retractIds(docs))
    }

  /** The one build behind the audio memos: the full-corpus one-frame
    * fingerprint store + track-family label table of memo `family`
    * (p128's store shape), built once per JVM per dataset, then
    * `takedown(spark, fp, labels, ids)` over the retracted documents.
    */
  private def audioTakedownRoot(s: SparkSession, d: String, family: String,
      takedown: (SparkSession, String, String, DataFrame) => Long): String =
    IndexStores.of(family, d) { p =>
      val docs = documents(s, d)
      val af = Multimodal.decodeWave(Multimodal.attachWave(docs))
        .select(col("doc_id"), col("afp")).localCheckpoint()
      Multimodal.frameStoreWrite(
        af.select(col("doc_id"), lit(0).as("frame"),
          col("afp").as("fhash")), s"$p/fp")
      LabelStore.write(
        LabelStore.labelsFor(af.select(col("doc_id")),
          Multimodal.perceptualNearDupPairs(
              af.select(col("doc_id"), col("afp").as("dhash")),
              maxHamming = 3)
            .select(col("d1"), col("d2"))),
        s"$p/labels")
      takedown(s, s"$p/fp", s"$p/labels", Pipeline17.retractIds(docs))
    }

  /** The post-retraction VIDEO store pair, built once per JVM per
    * dataset: banded frame store + clip-family label table over the
    * full corpus, then the composed video takedown
    * ([[graft.streaming.StreamingOps.videoRetractBatch]] — evidence
    * reconstructed from the store's own surviving frames, full-rewrite
    * signature removal). One decode pass feeds both the store and the
    * label build (the p125 discipline); the memo serves the DOWNSTREAM
    * refresh p142 prices.
    */
  private def retractedVideoRoot(s: SparkSession, d: String): String =
    videoTakedownRoot(s, d, "retract_video_store",
      graft.streaming.StreamingOps.videoRetractBatch(_, _, _)(_))

  /** p142: the POST-RETRACTION release draw over the VIDEO label space
    * — p138's composed chain (takedown handler → live weights → p120's
    * deterministic epoch draw) on the second label space: withdrawn
    * clips never surface in ANY epoch, and each affected family's
    * surviving clips draw at their RAISED weight (`1e6 div` the
    * post-removal family size) — the release semantics a video
    * takedown must get right, which sampling at stale weights would
    * miss exactly on the families the takedown touched.
    *
    * Scale shape: the store pair + takedown build once (memoized); the
    * refresh is one label-table scan + the weight window + a broadcast
    * epoch grid — no decode, no signature recompute.
    */
  def retractionVideoRelease(s: SparkSession, d: String): DataFrame = {
    val root = retractedVideoRoot(s, d)
    Pipeline13.softDedupSampleOf(
        LabelStore.weightsFromStore(s, s"$root/labels"),
        Pipeline13.SampleEpochs)
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** p142 oracle: the survivor-restricted closure of p91's pair CTEs
    * under the weight + draw tail.
    */
  val retractionVideoReleaseOracle: String =
    s"""WITH RECURSIVE ${Pipeline10.videoPairCtes},
       |${survivorClosureTail("vp")},
       |$releaseDrawTail""".stripMargin

  /** The DEFERRED-takedown video store pair, built once per JVM per
    * dataset: full-corpus frame store + clip-family labels, then the
    * deferred handler ([[graft.streaming.StreamingOps
    * .videoRetractDeferred]] — labels recontract now, the withdrawn
    * clips' frame rows only TOMBSTONE; the physical rewrite is left to
    * the compaction cadence). The p139 memo discipline on the video
    * store family: p149 exists to check the tombstoned state itself.
    */
  private def deferredVideoRoot(s: SparkSession, d: String): String =
    videoTakedownRoot(s, d, "defer_video_store",
      graft.streaming.StreamingOps.videoRetractDeferred(_, _, _)(_))

  /** p149: the TOMBSTONE-AWARE video pair read — p139's differential
    * on the second banded store family: between a deferred video
    * takedown and its applying compaction the withdrawn clips' frame
    * rows are still physically on disk (only queued in the zone), yet
    * the pair relation derived FROM the store
    * ([[Multimodal.videoPairsFromStore]], the clip space's live pair
    * source) must hash-match the from-scratch temporal relation of the
    * SURVIVING corpus — the restriction commutes because the
    * equal-length aligned relation is pairwise. Completes the
    * deferred-read oracle family: text p139/p147, lexical p141/p146,
    * video p149.
    *
    * Scale shape: store + takedown build once (memoized); the entry is
    * one band-partition read (each frame once), a model-sized length
    * roll-up, p90's banded pair derivation, and the broadcast
    * anti-join against the pending set — the video read tax, priced.
    */
  def deferredVideoPairs(s: SparkSession, d: String): DataFrame = {
    val root = deferredVideoRoot(s, d)
    Multimodal.videoPairsFromStore(s, s"$root/frames", maxHamming = 3)
      .orderBy(col("d1"), col("d2"))
  }

  /** p149 oracle: p91's pair CTEs restricted to the survivors — the
    * from-scratch relation the tombstone-aware read must land on.
    */
  val deferredVideoPairsOracle: String =
    s"""WITH ${Pipeline10.videoPairCtes},
       |surv AS (SELECT doc_id FROM documents
       |         WHERE doc_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |sp AS (SELECT d1, d2 FROM vp
       |       JOIN surv s1 ON vp.d1 = s1.doc_id
       |       JOIN surv s2 ON vp.d2 = s2.doc_id)
       |SELECT d1, d2 FROM sp ORDER BY d1, d2""".stripMargin

  /** The DEFERRED-takedown audio store pair — the one-frame twin of
    * [[deferredVideoRoot]]: fingerprint store + track-family labels,
    * then [[graft.streaming.StreamingOps.audioRetractDeferred]].
    */
  private def deferredAudioRoot(s: SparkSession, d: String): String =
    audioTakedownRoot(s, d, "defer_audio_store",
      graft.streaming.StreamingOps.audioRetractDeferred(_, _, _)(_))

  /** p150: the TOMBSTONE-AWARE audio pair read — the last member of
    * the deferred-read oracle family (text p139/p147, lexical
    * p141/p146, video p149): the fingerprint pair relation derived
    * from the tombstoned one-frame store
    * ([[Multimodal.perceptualPairsFromStore]]) must hash-match the
    * from-scratch banded Hamming relation of the SURVIVING corpus
    * while the withdrawn tracks' rows are still physically on disk.
    * Every banded store family's deferred state now carries its own
    * differential.
    */
  def deferredAudioPairs(s: SparkSession, d: String): DataFrame = {
    val root = deferredAudioRoot(s, d)
    Multimodal.perceptualPairsFromStore(s, s"$root/fp", maxHamming = 3)
      .orderBy(col("d1"), col("d2"))
  }

  /** p150 oracle: p79's fingerprint pair relation (re-derived from the
    * wave generator formula) restricted to the survivors.
    */
  val deferredAudioPairsOracle: String =
    s"""WITH ${Pipeline8.waveDocsCte},
       |${Pipeline8.waveSampleCte},
       |${Pipeline8.waveFpCtes},
       |ap AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.afp, b.afp)) <= 3),
       |surv AS (SELECT doc_id FROM documents
       |         WHERE doc_id % ${Pipeline16.RetractMod} <> ${Pipeline16.RetractRem}),
       |sp AS (SELECT d1, d2 FROM ap
       |       JOIN surv s1 ON ap.d1 = s1.doc_id
       |       JOIN surv s2 ON ap.d2 = s2.doc_id)
       |SELECT d1, d2 FROM sp ORDER BY d1, d2""".stripMargin

  /** The post-retraction CROSS-MODAL store set, built once per JVM per
    * dataset: the four modality signature stores + the UNIFIED label
    * table over the full corpus (one decode per modality, p132's store
    * shapes), then the composed unified takedown
    * ([[graft.streaming.StreamingOps.multimodalRetractBatch]] —
    * evidence reconstructed per modality from ITS store's own rows
    * over the affected components' survivors, the retracted ids'
    * signature rows leaving ALL FOUR stores). Serves p143 (the label
    * differential) and p144 (the downstream release draw).
    */
  private def retractedXmodalRoot(s: SparkSession, d: String): String =
    IndexStores.of("retract_xmodal_store", d) { p =>
      val dirs = Seq("labels", "txt", "img", "aud", "vid").map(t => s"$p/$t")
      val docs = documents(s, d)
      val tf = Pipeline9.exactTextSigFrames(docs).localCheckpoint()
      val dh = Multimodal.decodeRaster(Multimodal.attachRaster(docs))
        .select(col("doc_id"), col("dhash")).localCheckpoint()
      val af = Multimodal.decodeWave(Multimodal.attachWave(docs))
        .select(col("doc_id"), col("afp")).localCheckpoint()
      val vf = Multimodal.decodeVideoFrames(Multimodal.attachVideo(docs))
        .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
        .localCheckpoint()
      val pairs = Pipeline9.exactTextPairsOf(docs)
        .union(Multimodal.perceptualNearDupPairs(dh, maxHamming = 3)
          .select(col("d1"), col("d2")))
        .union(Multimodal.perceptualNearDupPairs(
            af.select(col("doc_id"), col("afp").as("dhash")),
            maxHamming = 3)
          .select(col("d1"), col("d2")))
        .union(Multimodal.videoNearDupPairs(vf, maxHamming = 3)
          .select(col("d1"), col("d2")))
      LabelStore.write(
        LabelStore.labelsFor(docs.select(col("doc_id")), pairs), dirs(0))
      Multimodal.frameStoreWrite(
        tf.select(col("doc_id"), col("frame"), col("fhash")), dirs(1))
      Multimodal.frameStoreWrite(
        dh.select(col("doc_id"), lit(0).as("frame"),
          col("dhash").as("fhash")), dirs(2))
      Multimodal.frameStoreWrite(
        af.select(col("doc_id"), lit(0).as("frame"),
          col("afp").as("fhash")), dirs(3))
      Multimodal.frameStoreWrite(
        vf.select(col("doc_id"), col("frame"), col("fhash")), dirs(4))
      graft.streaming.StreamingOps.multimodalRetractBatch(
        s, dirs(1), dirs(2), dirs(3), dirs(4), dirs(0))(
        Pipeline17.retractIds(docs))
    }

  /** p143: remove-equals-rebuild on the UNIFIED label space — the
    * third and last label-space differential, completing p136 (text)
    * and p140 (vectors): withdraw every tenth document through the
    * composed cross-modal handler and the post-removal unified label
    * table must hash-match the from-scratch four-modality contraction
    * of the SURVIVING corpus. This pins the hardest case the
    * per-modality differentials cannot see: a family bridged ACROSS
    * modalities only through a retracted document must split, with
    * each fragment recontracting to its own surviving minimum.
    *
    * Scale shape: the store set + takedown build once (memoized —
    * p132 already prices the unified ingestion per rep); the entry is
    * one label-table scan. The takedown itself is component-bounded
    * per modality (survivor semi-joins from the label table, banded
    * pair recomputation over the affected slice only) with the four
    * store rewrites full-rewrite by necessity (band values are
    * content-derived) — the deferred twin tombstones instead.
    */
  def retractionXmodalLabels(s: SparkSession, d: String): DataFrame =
    LabelStore.read(s, s"${retractedXmodalRoot(s, d)}/labels")
      .orderBy(col("doc_id"))

  /** p143 oracle: the survivor-restricted closure of p85's union pair
    * CTEs — the from-scratch rebuild of the surviving corpus.
    */
  val retractionXmodalLabelsOracle: String =
    s"""WITH RECURSIVE ${Pipeline9.multimodalPairCtes},
       |${survivorClosureTail("prs")}
       |SELECT doc_id, canonical FROM lab ORDER BY doc_id""".stripMargin

  /** p144: the POST-RETRACTION release draw over the UNIFIED label
    * space — the takedown composed through to the cross-modal release
    * (p135's draw over p143's post-removal state): a clip/image/track/
    * document withdrawn in ANY modality never surfaces in any epoch of
    * the unified release, and cross-modal families that lost members
    * draw their survivors at raised weights. Same memoized store set
    * as p143; the refresh is label-scan + weight window + epoch grid.
    */
  def retractionXmodalRelease(s: SparkSession, d: String): DataFrame = {
    val root = retractedXmodalRoot(s, d)
    Pipeline13.softDedupSampleOf(
        LabelStore.weightsFromStore(s, s"$root/labels"),
        Pipeline13.SampleEpochs)
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** p144 oracle: p143's survivor chain under the weight + draw tail. */
  val retractionXmodalReleaseOracle: String =
    s"""WITH RECURSIVE ${Pipeline9.multimodalPairCtes},
       |${survivorClosureTail("prs")},
       |$releaseDrawTail""".stripMargin

  /** The post-retraction AUDIO store pair, built once per JVM per
    * dataset: one-frame fingerprint store + track-family label table
    * over the full corpus (p128's store shape), then the composed
    * audio takedown ([[graft.streaming.StreamingOps.audioRetractBatch]]
    * — evidence is p79's banded relation over the affected components'
    * surviving fingerprints, read from one band partition). Serves
    * p148, completing the four-modality release-draw symmetry.
    */
  private def retractedAudioRoot(s: SparkSession, d: String): String =
    audioTakedownRoot(s, d, "retract_audio_store",
      graft.streaming.StreamingOps.audioRetractBatch(_, _, _)(_))

  /** p148: the POST-RETRACTION release draw over the AUDIO label space
    * — the fourth and last modality through the takedown-composed
    * release chain (text p138, video p142, unified p144): withdrawn
    * tracks never surface in any epoch, surviving family members draw
    * at their raised weight. Same memoized-store/refresh pricing as
    * its three siblings; the oracle closes a survivor-restricted copy
    * of p79's fingerprint pair relation (re-derived from the wave
    * generator formula, the audio oracle discipline) under the
    * weight + draw tail.
    */
  def retractionAudioRelease(s: SparkSession, d: String): DataFrame = {
    val root = retractedAudioRoot(s, d)
    Pipeline13.softDedupSampleOf(
        LabelStore.weightsFromStore(s, s"$root/labels"),
        Pipeline13.SampleEpochs)
      .orderBy(col("epoch"), col("doc_id"))
  }

  val retractionAudioReleaseOracle: String =
    s"""WITH RECURSIVE ${Pipeline8.waveDocsCte},
       |${Pipeline8.waveSampleCte},
       |${Pipeline8.waveFpCtes},
       |ap AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.afp, b.afp)) <= 3),
       |${survivorClosureTail("ap")},
       |$releaseDrawTail""".stripMargin

  /** Lloyd rounds of the registered drift-gated retrain — the
    * composed handler's own default
    * ([[graft.streaming.StreamingOps.ivfRetrainIfDrifted]]), restated
    * here so the oracle's round count can never silently diverge from
    * the entry's.
    */
  private val RetrainRounds = 2

  /** Squared-ppm drift threshold of the registered gate: the
    * single-cell flood scores ~(10⁶ − 10⁶/nCells)² ≈ 7.7·10¹¹ on its
    * cell, while the p112 report's natural splits measure ≤ ~10⁷ at
    * every SF — 10⁹ separates them by two orders each way.
    */
  private val DriftThresholdPpm2 = 1000000000L

  /** p145: the DRIFT-GATED RETRAIN composition under a full oracle —
    * the last spec-only maintenance composition registered: build the
    * live IVF layout under the deployment's frozen seed model, present
    * the drift gate with a SINGLE-CELL FLOOD batch (every vector the
    * seed assigns to cell 0 — the embedding-model-switch signature the
    * gate exists for; a require pins that it actually fires, and
    * SimilaritySpec separately pins that natural splits stay quiet),
    * and run the composed handler: gate fire → warm-start frozen Lloyd
    * on the live store's own vectors → full re-assignment into
    * `__compact` with the retrained model landing INSIDE the
    * replacement (`_model`) → checked-rename swap. The entry emits the
    * swapped store's (vec_id, cell) layout; the oracle re-derives the
    * warm-start training from first principles (the p124 Lloyd-round
    * CTEs — frozen integer-micro arithmetic is bit-stable across
    * engines, which is what makes this composition oracle-able) and
    * assigns the corpus under the retrained model. A handler that
    * skipped the retrain, trained from the wrong seed, ran a different
    * round count, or swapped a stale layout all hash-mismatch; the
    * entry also requires the swapped layout's `_model` sidecar to
    * equal the returned model (layout and model may never part).
    *
    * Scale shape: the gate is an nCells-bounded rate compare; the
    * retrain is `rounds` passes of map-only broadcast-argmax + a
    * model-sized (cell, dim) integer aggregate; the rebuild is one
    * store-wide assignment pass (the honest price of a model change —
    * cells are DEFINED by the model) riding the same checked-swap
    * device as every compaction, with `ingest_batch` carried through
    * so the staged merges' exactly-once probe survives the rebuild.
    */
  def driftRetrainAssignment(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val ivfPath = java.nio.file.Files
      .createTempDirectory("graft_driftrt_ivf_").toString
    Pipeline14.withScratch(s, ivfPath) {
      val seed = Similarity.seedCentroids(emb, 8)
      Similarity.ivfWrite(emb, seed, ivfPath)
      val baseRates = Pipeline12.cellRates(emb, seed, "cb", "rb")
      val flood = Similarity.assignCells(seed, emb)
        .filter(col("cell") === 0)
        .select(col("vec_id"), col("embedding"))
      val retrained = graft.streaming.StreamingOps.ivfRetrainIfDrifted(
        s, ivfPath, seed, baseRates, flood,
        thresholdPpm2 = DriftThresholdPpm2, rounds = RetrainRounds)
      require(retrained.nonEmpty,
        "fixture: the single-cell flood must fire the drift gate")
      val adopted = graft.streaming.StreamingOps.ivfStoreModel(s, ivfPath)
      require(adopted.exists(_.toSeq == retrained.get.toSeq),
        "the swapped layout's _model sidecar must equal the retrained model")
      Pipeline14.cleanupAfter(
        s.read.parquet(ivfPath)
          .select(col("vec_id"), col("cell").cast("int").as("cell"))
          .orderBy(col("vec_id")),
        ivfPath)
    }
  }

  /** p145 oracle: the warm-start frozen Lloyd re-derived from first
    * principles (the shared p124 round CTEs seeded at the deployment
    * model) and the corpus assigned under the retrained centroids —
    * the from-scratch layout the swap must land on.
    */
  val driftRetrainAssignmentOracle: String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    s"""WITH ${Pipeline14.seedCentsCte},
       |${(1 to RetrainRounds).map(Pipeline14.lloydRoundCte).mkString(",\n")},
       |fin AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cent$RetrainRounds c) WHERE rn = 1)
       |SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |       CAST(cell AS INTEGER) AS cell
       |FROM fin ORDER BY vec_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p142_retraction_video_release", retractionVideoRelease,
      Some(retractionVideoReleaseOracle)),
    QuerySpec("p145_drift_retrain_assignment", driftRetrainAssignment,
      Some(driftRetrainAssignmentOracle), Pricing.Training),
    QuerySpec("p143_retraction_crossmodal_labels", retractionXmodalLabels,
      Some(retractionXmodalLabelsOracle)),
    QuerySpec("p144_retraction_crossmodal_release", retractionXmodalRelease,
      Some(retractionXmodalReleaseOracle)),
    QuerySpec("p148_retraction_audio_release", retractionAudioRelease,
      Some(retractionAudioReleaseOracle)),
    QuerySpec("p149_deferred_video_pairs", deferredVideoPairs,
      Some(deferredVideoPairsOracle)),
    QuerySpec("p150_deferred_audio_pairs", deferredAudioPairs,
      Some(deferredAudioPairsOracle)),
  )
}
