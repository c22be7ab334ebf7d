package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming echo of the batch operators (SURVEY.md §7.2 M5):
  * the same event-table semantics expressed over an unbounded source.
  *
  * Scale notes: watermarks bound state (late events beyond the watermark
  * are dropped, state for closed windows is evicted); the stateful
  * sessionizer keys state by user so it shards across executors with the
  * shuffle; checkpointing makes both exactly-once in a real deployment.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling 1-hour windowed counts with a 2-hour watermark — the
    * streaming form of Relational.q15HourlyEvents. Append-mode safe:
    * a window emits once its end passes the watermark.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hr"), col("event_type"),
              col("n"), col("total_value"))

  /** Streaming existence detection — the reference's Q_ref over an
    * unbounded stream: emit each window in which a matching event type
    * was seen (existence per window instead of per corpus).
    */
  def existenceByWindow(events: DataFrame, needleType: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .filter(col("event_type") === needleType)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("hits"))
      .select(col("window.start").as("hr"), col("hits"))

  /** Session windows — the streaming twin of the batch sessionizer
    * (q18): per-user sessions close after `gap` of inactivity. State is
    * one open session per user, evicted once the watermark passes the
    * session end.
    */
  def sessionCounts(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("total_value"))

  /** Streaming exact dedup — the unbounded form of the batch
    * p01_dedup_exact: keep the first occurrence of each content hash.
    * dropDuplicatesWithinWatermark bounds the state store: a hash seen
    * again after the watermark passes is admitted as new, the explicit
    * tradeoff every streaming dedup makes to avoid unbounded state on
    * an infinite corpus.
    */
  def streamingDedup(docs: DataFrame, textCol: String, tsCol: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, "2 hours")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming perceptual image dedup — the unbounded form of the
    * batch p59/p60 pipeline's exact-signature core: decode each
    * micro-batch's rasters in the same mapPartitions codec boundary
    * the batch path uses ([[graft.operators.Multimodal
    * .decodeRasterKeeping]], event-time riding through as a
    * passthrough column), then keep the FIRST image per 60-bit dHash
    * with watermark-bounded state. Exact-signature dedup only: a
    * Hamming-radius gate would need cross-row candidate state per
    * band, which is the batch pair path's job ([[graft.operators
    * .Multimodal.perceptualNearDupPairs]] over a compacted store) —
    * run it as the periodic compaction-time sweep behind this gate,
    * the same split as streaming exact text dedup vs batch MinHash.
    */
  def perceptualDedupStream(withRaster: DataFrame, tsCol: String): DataFrame =
    graft.operators.Multimodal.decodeRasterKeeping(withRaster, Seq(tsCol))
      .withWatermark(tsCol, "2 hours")
      .dropDuplicatesWithinWatermark("dhash")

  /** Streaming drift gate — p82's ingestion monitor at the stream
    * boundary, in the same `foreachBatch` discipline as the index
    * ingestion paths: score ONE micro-batch's hashed-token bucket
    * rates against a frozen base signature
    * ([[graft.operators.Pipeline9.bucketRates]] of yesterday's
    * corpus, precomputed and tiny — B=1024 rows, so it broadcasts),
    * returning the buckets whose squared ppm rate difference exceeds
    * `thresholdPpm2`. Empty result = batch admitted; non-empty = the
    * feed drifted and the rows say where. All integer, so the gate
    * fires identically however the batch was partitioned.
    */
  def driftGateBatch(batch: DataFrame, baseRates: DataFrame,
                     thresholdPpm2: Long): DataFrame = {
    // full_outer, matching batch p82's semantics: a base bucket with
    // ZERO occurrences in the micro-batch (vanished content) scores as
    // (0 − rb)² and the report can name it. Both sides are B-bounded
    // (≤1024 rows), so the unbroadcastable full-outer join is trivial.
    val rates = graft.operators.Pipeline9.bucketRates(batch, "ci", "ri")
      .localCheckpoint(eager = false) // feeds the gate + the n_batch guard
    // an EMPTY micro-batch (routine on watermark-advance triggers) has
    // no distribution to compare — without this guard the full-outer
    // form would report the ENTIRE baseline as vanished on every idle
    // trigger (the left-join form's accidental protection, made
    // explicit here)
    val nBatch = rates.agg(coalesce(sum(col("ci")), lit(0L)).as("n_batch"))
    rates
      .join(baseRates.select(col("b"), col("rb")), Seq("b"), "full_outer")
      .crossJoin(broadcast(nBatch))
      .filter(col("n_batch") > 0)
      .select(col("b").cast("int").as("bucket"),
        coalesce(col("ci"), lit(0L)).as("ci"),
        coalesce(col("ri"), lit(0L)).as("ri"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .withColumn("drift", (col("ri") - col("rb")) * (col("ri") - col("rb")))
      .filter(col("drift") > thresholdPpm2)
      .orderBy(col("drift").desc, col("bucket"))
  }

  /** Streaming EMBEDDING drift gate — [[driftGateBatch]]'s vector-
    * modality twin (batch form: Pipeline12 p112): score ONE
    * micro-batch's per-IVF-cell assignment rates against a frozen base
    * signature (`Pipeline12.cellRates` of the published corpus under
    * the index's own centroid model — ≤nCells rows), returning cells
    * whose squared ppm rate difference exceeds `thresholdPpm2`. Run it
    * in `foreachBatch` before [[ivfPqIngestBatch]]: an embedding-model
    * version switch or normalization bug moves mass between cells and
    * fires this gate before the bad vectors pollute the index.
    */
  def embeddingDriftGateBatch(batch: DataFrame, baseRates: DataFrame,
                              cents: Array[(Int, Seq[Float])],
                              thresholdPpm2: Long): DataFrame = {
    val rates = graft.operators.Pipeline12.cellRates(batch, cents, "ci", "ri")
      .localCheckpoint(eager = false)
    // same empty-batch guard as the token gate: an idle trigger has no
    // distribution to compare and must not report the baseline vanished
    val nBatch = rates.agg(coalesce(sum(col("ci")), lit(0L)).as("n_batch"))
    rates
      .join(baseRates.select(col("cell"), col("rb")), Seq("cell"), "full_outer")
      .crossJoin(broadcast(nBatch))
      .filter(col("n_batch") > 0)
      .select(col("cell").cast("int").as("cell"),
        coalesce(col("ci"), lit(0L)).as("ci"),
        coalesce(col("ri"), lit(0L)).as("ri"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .withColumn("drift", (col("ri") - col("rb")) * (col("ri") - col("rb")))
      .filter(col("drift") > thresholdPpm2)
      .orderBy(col("drift").desc, col("cell"))
  }

  /** Streaming OOV gate — the tokenizer-health twin of
    * [[driftGateBatch]], in the same `foreachBatch` discipline: score
    * ONE micro-batch's out-of-vocabulary rate against a frozen
    * vocabulary (broadcast — vocabularies are model-sized) and, when
    * the integer ppm rate meets `thresholdPpm`, return the `topN` most
    * frequent unknown terms so the report NAMES the arriving
    * vocabulary instead of just flagging it. Empty result = batch
    * admitted. A rising OOV rate is how a tokenizer deploy discovers
    * its vocab no longer fits the feed (new language, new markup, new
    * spam family) BEFORE perplexity and packing silently degrade.
    */
  /** Streaming SCORE-drift gate — the label-free monitor of a deployed
    * p102/p107 classifier: band-occupancy rates of ONE micro-batch
    * scored under the frozen broadcast weights
    * (`Pipeline13.bandRates`, the p119 banding without `y` — arriving
    * data has no labels, but its margin DISTRIBUTION is observable)
    * against the frozen base occupancy (`Pipeline13.scoreBandRates` of
    * the published corpus at model freeze). Returns bands whose
    * squared ppm rate difference exceeds `thresholdPpm2` — empty
    * admits. A feed shift the classifier is sensitive to (topic mix,
    * spam wave, template change) moves mass between confidence bands
    * BEFORE anyone has labels to re-measure accuracy with; paired with
    * the frozen p119 table, the firing band also says what the
    * accuracy in the arriving mix WOULD have been at freeze time.
    * Same full-outer + empty-batch discipline as [[driftGateBatch]];
    * both sides are ≤38 rows by the banding's construction.
    */
  def scoreDriftGateBatch(batch: DataFrame, weights: DataFrame,
                          baseRates: DataFrame,
                          thresholdPpm2: Long): DataFrame = {
    val rates = graft.operators.Pipeline13.bandRates(batch, weights,
      "ci", "ri").localCheckpoint(eager = false)
    // empty-batch guard: an idle trigger has no margin distribution to
    // compare and must not report the whole baseline as vanished
    val nBatch = rates.agg(coalesce(sum(col("ci")), lit(0L)).as("n_batch"))
    rates
      .join(baseRates.select(col("band"), col("rb")), Seq("band"),
        "full_outer")
      .crossJoin(broadcast(nBatch))
      .filter(col("n_batch") > 0)
      .select(col("band").cast("long").as("band"),
        coalesce(col("ci"), lit(0L)).as("ci"),
        coalesce(col("ri"), lit(0L)).as("ri"),
        coalesce(col("rb"), lit(0L)).as("rb"))
      .withColumn("drift", (col("ri") - col("rb")) * (col("ri") - col("rb")))
      .filter(col("drift") > thresholdPpm2)
      .orderBy(col("drift").desc, col("band"))
  }

  def oovGateBatch(batch: DataFrame, vocab: DataFrame,
                   thresholdPpm: Long, topN: Int = 20): DataFrame = {
    val toks = batch
      .select(explode(split(col("text"), " ")).as("term"))
      .join(broadcast(vocab.select(col("term")).withColumn("inv", lit(1))),
        Seq("term"), "left")
      .localCheckpoint(eager = false) // feeds the stats agg + the roll-up
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
    toks.filter(col("inv").isNull)
      .groupBy(col("term")).agg(count(lit(1)).as("n_term"))
      .crossJoin(broadcast(stats))
      .filter(col("n_oov") * 1000000L >= lit(thresholdPpm) * col("n"))
      .select(col("term"), col("n_term"), col("n_oov"), col("n"))
      .orderBy(col("n_term").desc, col("term"))
      .limit(topN)
  }

  /** Streaming perceptual AUDIO dedup — the waveform twin of
    * [[perceptualDedupStream]]: decode each micro-batch's WAV payloads
    * in the same codec boundary ([[graft.operators.Multimodal
    * .decodeWaveKeeping]], event time passing through), keep the FIRST
    * clip per 60-bit profile fingerprint with watermark-bounded state.
    * Exact-signature gate only; Hamming-radius audio dedup is the
    * batch pair path (p79) run as the compaction-time sweep — the same
    * split as the image and text streams.
    */
  def audioDedupStream(withWave: DataFrame, tsCol: String): DataFrame =
    graft.operators.Multimodal.decodeWaveKeeping(withWave, Seq(tsCol))
      .withWatermark(tsCol, "2 hours")
      .dropDuplicatesWithinWatermark("afp")

  /** Streaming VIDEO dedup — the clip twin of [[audioDedupStream]]:
    * decode each micro-batch's raw PPM streams in the codec boundary
    * ([[graft.operators.Multimodal.decodeVideoClipKeeping]] — the walk
    * folds per-frame dHashes to ONE exact clip signature per row, so
    * the stateful gate keys on a scalar, not an exploded frame table),
    * keep the FIRST clip per signature with watermark-bounded state.
    * Exact gate only; temporal near-dup (aligned-frame Hamming) is the
    * batch pair path (p90) run as the compaction-time sweep — the same
    * split as the text, image, and audio streams.
    */
  def videoDedupStream(withVideo: DataFrame, tsCol: String): DataFrame =
    graft.operators.Multimodal.decodeVideoClipKeeping(withVideo, Seq(tsCol))
      .withWatermark(tsCol, "2 hours")
      .dropDuplicatesWithinWatermark("vhash")

  /** Streaming keyframe extraction — STATELESS, unlike every dedup
    * gate here: a clip's scene cuts depend only on its own payload
    * row, so [[graft.operators.Multimodal.decodeVideoKeyframesKeeping]]
    * computes cuts + scene indexes inside the codec boundary and this
    * is a pure row-local transform (append mode, no watermark, no
    * state store — the infinitely-scalable kind). Batch parity with
    * p93's window form is spec-pinned.
    */
  def videoKeyframesStream(withVideo: DataFrame, tau: Int,
                           tsCol: String): DataFrame =
    graft.operators.Multimodal.decodeVideoKeyframesKeeping(
      withVideo, tau, Seq(tsCol))

  /** Streaming CONTAINMENT gate against the live frame-signature store
    * — the trim/crop twin of the exact [[videoDedupStream]] gate:
    * check ONE micro-batch's arriving clips as trims of
    * already-published clips (p99's semantics: the whole arriving
    * frame sequence matches a contiguous window of a stored clip,
    * frame-for-frame within `maxHamming`), answered from p100's
    * at-rest banded store instead of a corpus rescan. Run in
    * `foreachBatch` BEFORE [[frameIngestBatch]]: the verdict table
    * says which arriving clips are re-uploads worth dropping (or
    * linking) before they enter the index.
    *
    * Read path, scale-shaped: the ANCHOR probe is the stored p100 path
    * — a micro-batch is bounded, so its frame-0 hashes collect to plan
    * literals and the scan prunes on `band_i` + the pushed `band_v IN`
    * filter. VERIFICATION reads exactly one band partition (`band_i =
    * 0` holds every frame once) semi-joined to the candidate long-clip
    * ids (batch-bounded, broadcast) — never the full 4× band
    * explosion, never clips × clips. Contract (the ingest contract):
    * arriving doc_ids are new to the store.
    *
    * Output: (doc_id, long_id, offset, max_hamming) — one row per
    * (arriving clip, stored clip, alignment). StreamingSpec pins
    * row-for-row parity with batch p99 over the same union corpus.
    */
  def containmentGateBatch(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, maxHamming: Int = 3)(
                           batch: DataFrame): DataFrame =
    containmentGateFrames(spark, storePath, maxHamming)(
      graft.operators.Multimodal.decodeVideoFrames(batch)
        .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash")))

  /** AUDIO twin of [[containmentGateBatch]]: arriving tracks checked
    * as trims of already-published tracks against a stored segment-
    * fingerprint index ([[graft.Engine.audioStoreWrite]]'s layout —
    * the same banded store device as video, under (seg → frame,
    * sfp → fhash)). Same read path, same `foreachBatch` placement
    * before the ingest merge.
    */
  def audioContainmentGateBatch(spark: org.apache.spark.sql.SparkSession,
                                storePath: String, segLen: Int = 64,
                                maxHamming: Int = 3)(
                                batch: DataFrame): DataFrame =
    containmentGateFrames(spark, storePath, maxHamming)(
      graft.operators.Multimodal.decodeWaveSegments(batch, segLen)
        .select(col("doc_id"), col("seg").as("frame"),
          col("n_segs").as("n_frames"), col("sfp").as("fhash")))

  /** The modality-generic gate core over an already-decoded signature
    * table `(doc_id, frame, n_frames, fhash)` — the shape both codec
    * boundaries emit. Everything below the decode is signature
    * algebra, so video and audio share it verbatim.
    */
  private def containmentGateFrames(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String, maxHamming: Int)(
      frames: DataFrame): DataFrame = {
    import graft.operators.Multimodal
    val bf = frames
      .localCheckpoint() // feeds the anchor collect + the verify join
    val anchors = bf.filter(col("frame") === 0)
      .select(col("doc_id"), col("fhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val empty = emptyFrame(bf.sparkSession, "doc_id" -> 0L, "long_id" -> 0L,
      "offset" -> 0, "max_hamming" -> 0)
    if (anchors.isEmpty) return empty
    // candidate (arriving, stored, offset) triples from the banded probe
    val cand = Multimodal.frameProbeStored(spark, storePath, anchors, maxHamming)
      .select(col("qid"), col("doc_id").as("did"), col("frame").as("off"))
      // defensive: the ingest contract says arriving ids are new, but a
      // violated contract must not report a clip as containing itself
      .filter(col("did") =!= col("qid"))
    // stored frames of candidate docs only: one band partition, each
    // frame once, candidate ids broadcast. Tombstone-aware like every
    // frame-store reader — today the candidates already come from the
    // tombstone-aware probe, but the verify read must not depend on
    // that masking (the invariant is per-reader, not per-path)
    val candDocs = cand.select(col("did")).distinct()
    val sfc = graft.sources.Maintenance.minusTombstones(spark, storePath,
        spark.read.parquet(storePath))
      .filter(col("band_i") === 0)
      .select(col("doc_id").as("did"), col("frame").as("fl"),
        col("fhash").as("h2"))
      .join(broadcast(candDocs), Seq("did"))
    val nfl = sfc.groupBy(col("did"))
      .agg((max(col("fl")) + 1).as("nfl"))
    val qn = bf.select(col("doc_id").as("qid"), col("n_frames").as("nfs"))
      .distinct()
    val qf = bf.select(col("doc_id").as("qid"), col("frame").as("f"),
      col("fhash").as("h1"))
    cand
      .join(broadcast(qn), Seq("qid"))
      .join(broadcast(nfl), Seq("did"))
      .filter(col("off") + col("nfs") <= col("nfl"))
      .join(qf, Seq("qid"))
      .withColumn("fl", col("f") + col("off"))
      .join(sfc, Seq("did", "fl"))
      .groupBy(col("qid"), col("did"), col("off"), col("nfs"))
      .agg(count(lit(1)).as("n_aligned"),
        max(bit_count(col("h1").bitwiseXOR(col("h2")))).as("mh"))
      .filter(col("n_aligned") === col("nfs") && col("mh") <= maxHamming)
      .select(col("qid").as("doc_id"), col("did").as("long_id"),
        col("off").cast("int").as("offset"),
        col("mh").cast("int").as("max_hamming"))
      .distinct()
  }

  /** Stream-stream interval join — the unbounded form of the batch
    * as-of/range joins (q32/q33): each click joined to same-user
    * purchases at most 1 hour older. Both sides carry watermarks so
    * the join state for expired intervals is evicted; the time-range
    * predicate is what bounds buffering (Spark requires it).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
              col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
              col("purchase_ts"), col("purchase_value"))
  }

  /** Custom per-key state: running count/total per user via
    * mapGroupsWithState (the KeyValueGroupedDataset state API the
    * survey's M5 calls for). State is one small case class per user —
    * bounded, shardable, timeout-evictable in production.
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
          GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          // State keeps the UNROUNDED total (re-rounding each micro-batch
          // would compound error across batches); round only in the output.
          state.update(UserRunning(uid, n, v))
          UserRunning(uid, n, math.rint(v * 100) / 100)
      }
  }

  /** Per-key Welford running moments (mean + M2), the streaming form
    * of q48's batch anomaly detector. State per user is three numbers
    * — O(1) regardless of stream length — and each arriving event is
    * flagged against the statistics of everything seen BEFORE it, so
    * the op is causally consistent (an outlier can't mask itself).
    * flatMapGroupsWithState because a batch of k events emits k
    * verdicts, not one state row.
    */
  case class Moments(n: Long, mean: Double, m2: Double)
  case class Flagged(event_id: Long, user_id: Long, value: Double,
                     z: Double, anomalous: Boolean)

  def streamingAnomalies(events: Dataset[Event], zThreshold: Double = 3.0,
                         minHistory: Long = 3): Dataset[Flagged] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Moments, Flagged](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Moments]) =>
          var st = state.getOption.getOrElse(Moments(0L, 0.0, 0.0))
          // events within a micro-batch are not ordered by Spark; order
          // here so "statistics of the past" is well-defined
          val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val sd = if (st.n >= 2) math.sqrt(st.m2 / (st.n - 1)) else 0.0
            val z = if (st.n >= minHistory && sd > 0) (e.value - st.mean) / sd else 0.0
            val d = e.value - st.mean
            val mean2 = st.mean + d / (st.n + 1)
            st = Moments(st.n + 1, mean2, st.m2 + d * (e.value - mean2))
            Flagged(e.event_id, uid, e.value, z, math.abs(z) > zThreshold)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Sliding 3-hour window advancing hourly — the streaming echo of
    * the batch sliding-distinct (Relational7.q58). Uses an HLL sketch
    * deliberately: exact sliding distinct would hold per-user presence
    * per open window (state ∝ users × 3), while HLL sketches merge
    * across partial aggregates and bound state per window at sketch
    * size — the scale-correct choice the batch operator's scaladoc
    * points to. The sketch precision is the engine-wide
    * [[graft.operators.Sketches.LgConfigK]], shared with the batch q61
    * path, so a dashboard mixing batch backfill and streaming tail
    * sees consistent numbers — SketchesSpec pins batch/streaming
    * agreement within 2× the configured standard error on identical
    * data (bit-equality is impossible: DataSketches estimates are
    * path-dependent below the error floor, see Sketches.LgConfigK).
    */
  def slidingUserActivity(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "3 hours", "1 hour"))
      .agg(hll_sketch_estimate(
             hll_sketch_agg(col("user_id"), lit(graft.operators.Sketches.LgConfigK)))
           .as("n_users_approx"),
           count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
              col("n_users_approx"), col("n_events"))

  /** Sliding trending terms — q62's SpaceSaving aggregate riding a
    * watermarked streaming window: per 3h/1h window, the
    * capacity-bounded approximate top terms of the arriving documents.
    * The point is the composition: a custom TypedImperativeAggregate
    * merges associatively, so Structured Streaming's partial/final
    * (and state-store) aggregation paths drive it exactly like a
    * builtin — the same property that makes it shuffle-bounded in
    * batch makes it STATE-bounded here (capacity counters per open
    * window, not one per distinct term).
    */
  def trendingTermsStream(docs: DataFrame, tsCol: String,
                          capacity: Int, topN: Int): DataFrame =
    docs.withWatermark(tsCol, "2 hours")
      .select(col(tsCol), explode(split(col("text"), " ")).as("term"))
      .groupBy(window(col(tsCol), "3 hours", "1 hour"))
      .agg(graft.Engine.heavyHittersAgg(col("term"), capacity).as("hh"))
      .select(col("window.start").as("w_start"),
        expr(s"slice(hh, 1, $topN)").as("top_terms"))

  /** Idempotent micro-batch parquet writer for `foreachBatch`: lands
    * each batch under `path/batch=<id>` guarded by a commit marker, so
    * a batch RE-DELIVERED after a failure-and-restart (foreachBatch's
    * at-least-once contract) writes nothing the second time —
    * at-least-once delivery + idempotent write = exactly-once output.
    *
    * The guard is a marker file (`_GRAFT_COMMITTED`) created only
    * AFTER the parquet job commits — NOT the directory itself, because
    * FileOutputCommitter creates `path/batch=<id>/_temporary` at job
    * START: a crash mid-write leaves the directory present but the
    * data absent, and a directory-existence check would then skip the
    * re-delivered batch and lose it permanently. A marker-absent
    * directory is instead overwritten. (An own marker rather than the
    * committer's `_SUCCESS` so the guarantee survives
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`; the
    * leading underscore keeps it invisible to parquet readers.)
    *
    * The check-and-write races only with itself across restarts of the
    * SAME query, which Structured Streaming serializes via the
    * checkpoint, so no lock is needed.
    *
    * Usage: `df.writeStream.foreachBatch(idempotentParquetBatch(path) _)`.
    */
  def idempotentParquetBatch(path: String)(batch: DataFrame, id: Long): Unit = {
    val out = new org.apache.hadoop.fs.Path(s"$path/batch=$id")
    val marker = new org.apache.hadoop.fs.Path(out, "_GRAFT_COMMITTED")
    val fs = out.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      batch.write.mode("overwrite").parquet(out.toString)
      fs.create(marker, true).close()
    }
  }

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension, broadcast so the streaming side never shuffles. The
    * static side is re-planned per batch (so a refreshed dim parquet is
    * picked up); no streaming state is created — this is the stateless
    * dimension-lookup stage every event pipeline starts with.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming decontamination gate — the batch p30 check
    * (Pipeline4.contamination) applied to the streaming tail: every
    * incoming document is scored against the benchmark shingle index
    * and flagged when it shares any word n-gram with an eval set.
    *
    * The index is MODEL-SIZED by the same argument as the batch
    * operator's broadcast (eval sets are thousands of documents,
    * corpora are unbounded), so it ships as a literal array and the
    * gate is PURE MAP-SIDE: per row, hash the document's distinct
    * shingles and intersect with the index in-expression. No shuffle,
    * no streaming state, no watermark — the cost scales with the
    * micro-batch and the gate composes with any output mode. State
    * would be the wrong tool: contamination is a property of one
    * document, not of history.
    *
    * `benchHashes` must be the xxhash64 values of the eval shingles —
    * build them with [[benchShingleHashes]] so batch and streaming
    * gates share one index definition (StreamingSpec pins batch/stream
    * agreement on identical documents).
    */
  def contaminationGate(docs: DataFrame, benchHashes: Seq[Long],
                        n: Int = 5): DataFrame = {
    import graft.functions.TextAnalysis.shingles
    val hashed = transform(shingles(col("text"), n), s => xxhash64(s))
    // isin over a literal list optimizes to InSet — ONE hash set built
    // at planning, O(1) membership per element — where array_intersect
    // would rebuild the model-sized set for every streamed row.
    // coalesce: a null text must gate as clean (count 0), matching the
    // batch twin where a null document simply produces no join rows.
    docs.select(col("doc_id"),
        coalesce(size(filter(hashed, h => h.isin(benchHashes: _*))), lit(0))
          .as("n_shared_ngrams"))
      .withColumn("contaminated", col("n_shared_ngrams") > 0)
  }

  /** Streaming IVF-PQ index ingestion, stage 1 of 2: encode each
    * micro-batch of vectors into (vec_id, cell, c0…c3) rows — both
    * models broadcast, pure map-side, the exact
    * `Pipeline6.pqCellCodes` form the store itself uses — and land it
    * EXACTLY ONCE in a staging zone via [[idempotentParquetBatch]]
    * (at-least-once redelivery + marker-guarded write).
    *
    * Staging exists because hive-appending into the live store from
    * inside `foreachBatch` cannot be made idempotent: a crash mid-append
    * leaves partial code files inside cell directories that a
    * re-delivered batch would duplicate. Landing into `batch=<id>`
    * directories makes redelivery a provable no-op; folding into the
    * index is then a deliberate, operator-scheduled batch step
    * ([[ivfPqMergeStaged]]) — the standard stage-then-fold shape of
    * live index ingestion.
    *
    * Usage: `vectors.writeStream.foreachBatch(ivfPqIngestBatch(cents, cb, stage) _)`.
    */
  def ivfPqIngestBatch(cents: Array[(Int, Seq[Float])],
                       cb: Array[(Int, Seq[Seq[Float]])],
                       stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Pipeline6.pqCellCodes(cents, cb, batch), id)

  /** Staged batch directories that are committed (safe to read) and not
    * yet tombstoned, with their numeric batch ids — the shared listing
    * step of both merge folds.
    */
  private def stagedReady(fs: org.apache.hadoop.fs.FileSystem,
                          stage: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] =
    fs.listStatus(stage).map(_.getPath).toSeq
      .filter(p => p.getName.startsWith("batch="))
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_GRAFT_COMMITTED")))
      .filterNot(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_GRAFT_MERGED")))
      .sortBy(_.getName)
      .map(p => (p, p.getName.stripPrefix("batch=").toLong))

  /** Streaming IVF-PQ ingestion, stage 2: fold every staged-and-committed
    * batch into the live [[graft.operators.Pipeline6.ivfPqWrite]] store
    * (hive append into the cell directories) and tombstone it with a
    * `_GRAFT_MERGED` marker so the next merge skips it. Returns the
    * number of batches processed (folded or repaired).
    *
    * EXACTLY-ONCE fold, not just exactly-once staging: appended rows
    * carry their staged batch id in the `ingest_batch` column, so a
    * merge re-run after a crash BETWEEN the append job and the marker
    * write detects the already-folded batch IN THE STORE (a row-group-
    * pruned metadata probe — each file holds one ingest_batch value, so
    * parquet min/max footer stats skip everything else) and only
    * repairs the missing tombstone instead of appending duplicates
    * that would silently corrupt every subsequent probe's top-k.
    * Batches staged but not yet committed (no `_GRAFT_COMMITTED`) are
    * left for the next merge, so an in-flight streaming write is never
    * half-read. Run merges serially from one scheduler.
    */
  def ivfPqMergeStaged(spark: org.apache.spark.sql.SparkSession,
                       stagePath: String, storePath: String): Int =
    mergeStagedPartitioned(spark, stagePath, storePath, "cell")

  /** Streaming PLAIN-IVF embedding ingestion, stage 1: assign each
    * micro-batch of (vec_id, embedding) vectors to its cell (the ONE
    * shared assignment definition — `Similarity.assignCells`, map-only
    * against the broadcast frozen centroids) and land the
    * `Similarity.ivfWrite`-shaped rows exactly-once in the staging
    * zone. Contract: batch vec_ids must be new to the store, and
    * `cents` MUST be the model the store was built with (cells are
    * defined by it — the `ivfAppend` contract).
    */
  def ivfIngestBatch(cents: Array[(Int, Seq[Float])],
                     stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Similarity.assignCells(cents, batch), id)

  /** Streaming plain-IVF ingestion, stage 2: the shared exactly-once
    * fold into the live [[graft.operators.Similarity.ivfWrite]] cell
    * directories — the embedding-store twin of [[ivfPqMergeStaged]]
    * (same partition column, same `ingest_batch` presence probe).
    * Appended sliver files accumulate per cell;
    * `Maintenance.compactionPlan` decides when to fold them.
    */
  def ivfMergeStaged(spark: org.apache.spark.sql.SparkSession,
                     stagePath: String, storePath: String): Int =
    mergeStagedPartitioned(spark, stagePath, storePath, "cell")

  /** Streaming EMBEDDING NEAR-DUP gate against the live IVF store —
    * the VECTOR member of the published-corpus gate family (text:
    * [[textDedupGateBatch]], video/audio: [[containmentGateBatch]] /
    * [[audioContainmentGateBatch]]): check one micro-batch's arriving
    * embeddings for stored vectors within cosine `tau`, which a
    * within-batch SemDeDup (p73) cannot see. Run in `foreachBatch`
    * before [[ivfIngestBatch]]; a row (vec_id, dup_of, cos) means the
    * arriving vector sits within `tau` of a published one — `dup_of`
    * is the closest such (ties to the smaller id), the deterministic
    * verdict shape of the text gate.
    *
    * Recall contract: candidates come from each arriving vector's
    * `nProbe` nearest cells (p104's measured trade); `nProbe = 1`
    * reproduces p73's own-cell witness semantics exactly
    * (StreamingSpec parity), larger values only widen the net. The
    * batch stays a DataFrame end-to-end (probe fan-out broadcast, no
    * driver collect, no literal plan) — this gate has no batch-size
    * bound at all.
    */
  def embeddingDedupGateBatch(spark: org.apache.spark.sql.SparkSession,
                              storePath: String,
                              cents: Array[(Int, Seq[Float])],
                              tau: Double, nProbe: Int = 2)(
                              batch: DataFrame): DataFrame = {
    // one verdict row per flagged vector: the closest stored match,
    // ties to the smaller id — deterministic, like the text gate
    // (ivfProbeNearDup itself already drops qid == cid self-hits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    graft.operators.Similarity
      .ivfProbeNearDup(spark, storePath, batch, cents, tau, nProbe)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("qid").as("vec_id"), col("cid").as("dup_of"), col("cos"))
  }

  /** The shared exactly-once fold of the hive-partitioned stores
    * ([[ivfPqMergeStaged]] on `cell`, [[frameMergeStaged]] on
    * `band_i`): fold staged-and-committed batches with the
    * `ingest_batch` presence probe, tombstone after.
    */
  private def mergeStagedPartitioned(spark: org.apache.spark.sql.SparkSession,
                                     stagePath: String, storePath: String,
                                     partCol: String): Int = {
    val stage = new org.apache.hadoop.fs.Path(stagePath)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(stage)) return 0
    val ready = stagedReady(fs, stage)
    ready.foreach { case (p, id) =>
      val alreadyFolded = !spark.read.parquet(storePath)
        .filter(col("ingest_batch") === id).isEmpty
      if (!alreadyFolded)
        graft.sources.Partitioned.appendBy(
          spark.read.parquet(p.toString).withColumn("ingest_batch", lit(id)),
          storePath, partCol)
      fs.create(new org.apache.hadoop.fs.Path(p, "_GRAFT_MERGED"), true).close()
    }
    ready.length
  }

  /** Streaming FRAME-SIGNATURE ingestion, stage 1: decode each
    * micro-batch's clips to per-frame dHash rows, band-explode them to
    * the [[graft.operators.Multimodal.frameStoreWrite]] row shape, and
    * land them exactly-once in the staging zone — the perceptual-index
    * twin of [[ivfPqIngestBatch]]. Contract: batch doc_ids must be new
    * to the store.
    */
  def frameIngestBatch(stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Multimodal.bandFrames(
        graft.operators.Multimodal.decodeVideoFrames(batch)
          .select(col("doc_id"), col("frame"), col("fhash"))),
      id)

  /** Streaming frame-signature ingestion, stage 2: fold staged batches
    * into the live [[graft.operators.Multimodal.frameStoreWrite]]
    * store — same exactly-once discipline as [[ivfPqMergeStaged]].
    * Appended files are not band_v-sorted; run
    * [[graft.operators.Multimodal.frameStoreCompact]] periodically to
    * restore one sorted file per band and with it row-group skipping
    * on the whole store (probe CORRECTNESS never depends on the sort —
    * only read amplification does; `Maintenance.compactPartitioned`
    * would fold the slivers but leave rows unsorted, keeping the
    * pushed band_v filter useless — measured in tools/ScaleProbe).
    */
  def frameMergeStaged(spark: org.apache.spark.sql.SparkSession,
                       stagePath: String, storePath: String): Int =
    mergeStagedPartitioned(spark, stagePath, storePath, "band_i")

  /** Streaming TEXT LSH-signature ingestion, stage 1: fold each
    * micro-batch of (doc_id, text) documents to MinHash band-signature
    * rows ([[graft.operators.Dedup.lshSignatureRows]] — the store's
    * own shape) and land them exactly-once in the staging zone.
    * Contract: batch doc_ids must be new to the store.
    */
  def lshIngestBatch(stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Dedup.lshSignatureRows(batch, "doc_id", "text"), id)

  /** Streaming text LSH ingestion, stage 2: fold staged batches into
    * the live [[graft.operators.Dedup.lshStoreWrite]] store — the
    * shared exactly-once fold on the `band` partitions. Appended
    * files are not sig_h-sorted; periodic compaction (the
    * frameStoreCompact pattern on `band`/`sig_h`) restores row-group
    * skipping.
    */
  def lshMergeStaged(spark: org.apache.spark.sql.SparkSession,
                     stagePath: String, storePath: String): Int =
    mergeStagedPartitioned(spark, stagePath, storePath, "band")

  /** Streaming TEXT NEAR-DUP gate against the live LSH store — the
    * text member of the published-corpus gate family (video/audio:
    * [[containmentGateBatch]]/[[audioContainmentGateBatch]]): check
    * one micro-batch's arriving documents for LSH candidate matches
    * among everything ALREADY PUBLISHED, which the within-stream
    * watermark dedup gates cannot see. Run in `foreachBatch` before
    * [[lshIngestBatch]]; a row (doc_id, dup_of) means the arriving
    * document shares a band signature with a stored one — route it to
    * verification (exact Jaccard on the pair) or drop by policy.
    *
    * Read path: the batch's signatures collect to plan literals up to
    * `Dedup.MaxProbeLiterals`, pruning the store scan to the queried
    * bands and row groups; an oversized micro-batch degrades
    * gracefully to the probe's broadcast-join fallback (band pruning
    * kept, row-group skip traded) instead of building an unbounded
    * literal plan. Candidates are p04-semantics (unverified), so the
    * gate's recall/precision dials are exactly p108's table.
    */
  def textDedupGateBatch(spark: org.apache.spark.sql.SparkSession,
                         storePath: String)(batch: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val sigs = Dedup.lshSignatureRows(batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(q => (q._1, q._2))
    if (sigs.isEmpty)
      return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L)
    Dedup.lshProbeStored(spark, storePath, sigs)
      // the ingest contract says arriving ids are new; a violated
      // contract must not report a document as duplicating itself
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid").as("doc_id"), col("doc_id").as("dup_of"))
      .distinct()
  }

  /** Streaming SHINGLE-SIDECAR ingestion, stage 1: fold each
    * micro-batch of (doc_id, text) documents to their distinct
    * shingle-hash rows ([[graft.operators.Dedup.shingleSidecarRows]] —
    * the sidecar's own shape) and land them exactly-once in the
    * staging zone. Run beside [[lshIngestBatch]]: the signature store
    * finds candidates, the sidecar verifies them, so both must ingest
    * the same admitted batches.
    */
  def shingleIngestBatch(stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Dedup.shingleSidecarRows(batch, "doc_id", "text")
        .withColumn("bucket",
          pmod(col("doc_id"),
            lit(graft.operators.Dedup.SidecarBuckets)).cast("int")),
      id)

  /** Streaming sidecar ingestion, stage 2: the shared exactly-once
    * fold into the live [[graft.operators.Dedup.shingleStoreWrite]]
    * bucket directories. Appended slivers are unsorted;
    * `Maintenance.compactionPlan` on (bucket, doc_id) decides when to
    * re-sort them.
    */
  def shingleMergeStaged(spark: org.apache.spark.sql.SparkSession,
                         stagePath: String, storePath: String): Int =
    mergeStagedPartitioned(spark, stagePath, storePath, "bucket")

  /** The VERIFIED streaming text gate — [[textDedupGateBatch]]'s
    * candidates closed with the exact-Jaccard verify stage against the
    * at-rest shingle sidecar (p117's device), so the verdict is
    * p03-at-τ semantics against the published corpus WITHOUT a corpus
    * rescan: candidates → sidecar join → exact Jaccard ≥ τ. A row
    * (doc_id, dup_of, jaccard) is a CONFIRMED near-dup of a published
    * document — drop by policy directly; no downstream verification
    * owed. Costs one extra candidate-bucket-pruned sidecar read over
    * the unverified gate; run it when the banding's precision (p108's
    * table) is too low to drop on candidates alone.
    */
  def textDedupVerifiedGateBatch(spark: org.apache.spark.sql.SparkSession,
                                 storePath: String, sidecarPath: String,
                                 tau: Double)(batch: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val b = batch.select(col("doc_id"), col("text"))
      .localCheckpoint() // feeds the size probe, the signatures and the
                         // shingle side
    // Size the batch BEFORE anything batch-shaped reaches the driver
    // (one count on the checkpointed rows): within the probe-literal
    // contract the signatures collect to plan literals exactly as the
    // unverified gate's; an oversized micro-batch instead stays a
    // DataFrame end to end (lshProbeStoredDF + no-broadcast verify) —
    // the bound the unverified gate got in round 9, applied to the
    // verified path (an unbounded micro-batch must not build an
    // unbounded literal plan OR an unbounded broadcast).
    val nDocs = b.count()
    if (nDocs == 0)
      return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L,
        "jaccard" -> 0.0d)
    val bounded = nDocs * Dedup.DefaultLshBands.toLong <=
      Dedup.MaxProbeLiterals.toLong
    val cands = (if (bounded) {
      val sigs = Dedup.lshSignatureRows(b, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq.sortBy(q => (q._1, q._2))
      // a non-empty batch can still yield zero signatures (every text
      // shorter than the shingle width) — the probe's non-empty
      // contract must not crash the stream
      if (sigs.isEmpty)
        return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L,
          "jaccard" -> 0.0d)
      Dedup.lshProbeStored(spark, storePath, sigs)
    } else {
      Dedup.lshProbeStoredDF(spark, storePath,
        Dedup.lshSignatureRows(b, "doc_id", "text"))
    })
      // the ingest contract says arriving ids are new; a violated
      // contract must not report a document as duplicating itself
      .filter(col("doc_id") =!= col("qid"))
    val qsh = Dedup.shingleSidecarRows(b, "doc_id", "text")
      .select(col("doc_id").as("qid"), col("sh"))
    Dedup.lshVerifyStored(spark, sidecarPath, cands, qsh, tau,
        broadcastQuery = bounded)
      .select(col("qid").as("doc_id"), col("doc_id").as("dup_of"),
        col("jaccard"))
  }

  /** The composed INCREMENTAL-DEDUP MAINTENANCE handler — the one
    * `foreachBatch` body a deployment copies to keep BOTH live dedup
    * artifacts current as documents arrive (p123's loop as a library
    * call): per micro-batch of (doc_id, text) documents,
    *
    *  1. gate — [[textDedupGateBatch]] probes the live LSH store for
    *     published near-dup candidates (returned for routing/policy);
    *  2. fold + ingest — [[maintainTail]]: the gate verdicts plus the
    *     batch's within-batch LSH candidate pairs update the live label
    *     store, so `LabelStore.weightsFromStore` serves CURRENT p118
    *     sampling weights with no corpus rescan; the batch's
    *     signatures land exactly-once in the store, so the NEXT batch's
    *     gate sees this batch.
    *
    * StreamingSpec drives it end-to-end to weight parity with the
    * from-scratch contraction of the union corpus.
    */
  def dedupMaintainBatch(spark: org.apache.spark.sql.SparkSession,
                         lshStorePath: String, labelPath: String,
                         stagePath: String,
                         compactMaxFiles: Int = DefaultCompactMaxFiles)(
                         batch: DataFrame, id: Long): DataFrame = {
    import graft.operators.Dedup
    recoverStoreSwap(spark, lshStorePath)
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    def noVerdicts = emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L)
    if (b.isEmpty) return noVerdicts
    // ONE execution of the scan→shingle→minhash pipeline per batch,
    // three consumers: the gate probe, the within-batch pairs, and the
    // staged signature ingest (the Pipeline14 p123 pattern)
    val banded = Dedup.minhashBands(
        Dedup.minhash(b, "doc_id", "text", n = 5, numHashes = 16),
        numHashes = 16, bands = 4)
      .localCheckpoint(eager = false)
    val sigRows = Dedup.sigRowsFromBands(banded)
    // gate: the textDedupGateBatch semantics over the shared banded
    // frame — literal probe within the plan-literal bound, DataFrame
    // probe above it; zero signatures (all texts below the shingle
    // width) gate as clean
    val sigs = sigRows
      .limit(Dedup.MaxProbeLiterals + 1).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(q => (q._1, q._2))
    val gate0 =
      if (sigs.isEmpty) noVerdicts
      else (if (sigs.size <= Dedup.MaxProbeLiterals)
          Dedup.lshProbeStored(spark, lshStorePath, sigs)
        else Dedup.lshProbeStoredDF(spark, lshStorePath, sigRows))
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid").as("doc_id"), col("doc_id").as("dup_of"))
        .distinct()
    val gate = gate0.localCheckpoint() // feeds the fold AND the return
    maintainTail(spark, labelPath, stagePath, id, compactMaxFiles, gate)(
      b.select(col("doc_id")),
      Dedup.lshPairsFromBands(banded).select(col("d1"), col("d2")))(
      (stagePath, sigRows, SignatureStore.lsh(lshStorePath)))
    gate
  }

  /** The ONE maintain tail behind every maintenance handler of the
    * signature-store families (text, vector, video, audio,
    * cross-modal). Each handler heals its stores, decodes the batch
    * once, gates it against the live stores and builds its
    * within-batch pairs; the tail then
    *
    *  1. folds — unless the batch's fold marker ([[batchFolded]]) says
    *     a previous delivery already did: `LabelStore.recoverAndUpdate`
    *     over the batch's ids (`ids`, one `doc_id` column) and the
    *     within-batch pairs plus the gate's (id, dup_of) pairs, then
    *     [[markFolded]]. Re-folding would only waste a label rewrite
    *     (`LabelStore.update`'s own anti-join makes even that
    *     content-safe). A replay's gate verdicts may include
    *     within-batch siblings whose signatures are merged by now —
    *     the at-least-once verdict channel;
    *  2. per store, in order: lands the batch's rows exactly-once in
    *     its stage ([[idempotentParquetBatch]]), folds every committed
    *     staged batch into the store ([[mergeStagedPartitioned]] on the
    *     store's partition column) and runs its [[compactIfDue]]
    *     trigger.
    *
    * Shared contracts: batch ids must be new to the stores, and
    * handlers run serially from one maintenance scheduler.
    */
  private def maintainTail(spark: SparkSession, labelPath: String,
                           stagePath: String, id: Long,
                           compactMaxFiles: Int, gate: DataFrame)(
                           ids: => DataFrame, within: => DataFrame)(
                           stores: (String, DataFrame, SignatureStore)*): Unit = {
    if (!batchFolded(spark, stagePath, id)) {
      graft.operators.LabelStore.recoverAndUpdate(spark, labelPath, ids,
        within.union(gate.select(col(stores.head._3.idCol).as("d1"),
          col("dup_of").as("d2"))))
      markFolded(spark, stagePath, id)
    }
    stores.foreach { case (stage, rows, store) =>
      idempotentParquetBatch(stage)(rows, id)
      mergeStagedPartitioned(spark, stage, store.path, store.partCol)
      store.compact(spark, compactMaxFiles)
    }
  }

  /** A zero-row frame with the given columns (the handlers' empty
    * verdicts).
    */
  private def emptyFrame(spark: SparkSession, cols: (String, Any)*): DataFrame =
    cols.foldLeft(spark.emptyDataFrame) { case (df, (c, v)) =>
      df.withColumn(c, lit(v))
    }.limit(0)

  /** The maintenance handlers' FOLD-SPECIFIC redelivery marker,
    * `stagePath/_GRAFT_FOLDED_<id>`: created strictly AFTER
    * `LabelStore.update` completes for batch `id`, so its presence
    * proves the label fold itself ran to completion once. Deliberately
    * NOT the staging layer's `_GRAFT_COMMITTED` marker: that one only
    * proves the signature rows landed, and a stage dir previously
    * populated by the ingest-only pipelines (lshIngestBatch /
    * frameIngestBatch / ivfIngestBatch + scheduled merges) carries
    * committed markers for batches whose folds NEVER ran — guarding the
    * fold on it would silently drop those batches' labels forever when
    * such a stage is handed to a maintenance handler. A stage-root file
    * (not inside `batch=<id>`) so the staging layer's own overwrite of
    * an uncommitted batch dir cannot erase it; the `batch=` listing
    * filter of the merge folds never sees it.
    *
    * LIFETIME CONTRACT (the [[idempotentParquetBatch]] contract made
    * explicit): batch ids are only meaningful relative to ONE streaming
    * checkpoint, so `stagePath` and the query's checkpoint location
    * must live and die together. Restarting a stream with a cleared
    * checkpoint against an old stagePath makes fresh batches collide
    * with stale markers — the staging layer (and the fold guard)
    * would treat new data as already delivered. Wipe or re-point the
    * stage whenever the checkpoint is wiped.
    */
  private def foldMarkerPath(stagePath: String, id: Long) =
    new org.apache.hadoop.fs.Path(s"$stagePath/_GRAFT_FOLDED_$id")

  private def batchFolded(spark: org.apache.spark.sql.SparkSession,
                          stagePath: String, id: Long): Boolean = {
    val marker = foldMarkerPath(stagePath, id)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  private def markFolded(spark: org.apache.spark.sql.SparkSession,
                         stagePath: String, id: Long): Unit = {
    val marker = foldMarkerPath(stagePath, id)
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, true).close()
  }

  /** Default sliver-file-per-partition bound of the maintenance
    * handlers' built-in compaction trigger: each merged batch appends
    * one unsorted file per touched partition, and past a few dozen the
    * probe pays footer/open overhead plus a dead pushed-filter (the
    * BASELINE-measured 19×/2.3× read pathologies). 0 disables.
    */
  val DefaultCompactMaxFiles = 64

  /** The handlers' compaction TRIGGER: when any `partCol=` partition of
    * the store holds more than `maxFiles` data files, rewrite the store
    * with `compact` (a rewrite-then-swap compactor like
    * `Dedup.lshStoreCompact`) and swap it in place. The check is a pure
    * FILESYSTEM LISTING — file counts, no data read — so a clean store
    * costs the handler one directory scan per batch; the full
    * `Maintenance.compactionPlan` stats manifest (which also measures
    * key-range overlap) remains the scheduled-audit tool, because a
    * per-batch stats pass would scale with the STORE where this scales
    * with its file count. The swap renames the live path away, renames
    * the compacted store in, then deletes the old copy — handlers run
    * serially from one maintenance scheduler (the shared contract);
    * probes that DO race the swap from outside the scheduler retry via
    * [[graft.sources.Maintenance.retryOnSwap]] (the documented reader
    * contract — SwapRaceSpec proves a racing reader can only observe a
    * transient miss, never partial state).
    */
  /** `maxTombstoneFiles` is the DEFERRED-takedown half of the trigger:
    * each [[graft.sources.Maintenance.tombstoneAppend]] lands at most
    * one file in the store's zone, so the zone's FILE count bounds the
    * takedowns queued since the last compaction — past the bound, the
    * compaction (which applies them physically and retires the zone)
    * is due even when no partition has accumulated slivers. Without
    * this, a store that only ever takes deferred takedowns would pay
    * the broadcast anti-join read tax forever; with it, the tax is
    * bounded by the trigger. Listing-only, like the sliver check.
    */
  private[graft] def compactIfDue(spark: org.apache.spark.sql.SparkSession,
                                  storePath: String, partCol: String,
                                  maxFiles: Int,
                                  maxTombstoneFiles: Int = 16)(
                                  compact: (String, String) => Unit): Boolean = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal first, even when the trigger is disabled: a previous run's
    // crashed swap must not leave the store path missing
    recoverStoreSwap(spark, storePath)
    if (maxFiles <= 0) return false
    if (!fs.exists(root)) return false
    val zone = new org.apache.hadoop.fs.Path(s"$storePath/_graft_tombstones")
    val zoneDue = maxTombstoneFiles > 0 && fs.exists(zone) &&
      fs.listStatus(zone)
        .count(_.getPath.getName.endsWith(".parquet")) > maxTombstoneFiles
    val due = zoneDue || fs.listStatus(root).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partCol=") &&
        fs.listStatus(st.getPath)
          .count(_.getPath.getName.endsWith(".parquet")) > maxFiles
    }
    if (!due) return false
    val dst = new org.apache.hadoop.fs.Path(s"${storePath}__compact")
    val old = new org.apache.hadoop.fs.Path(s"${storePath}__precompact")
    fs.delete(dst, true); fs.delete(old, true)
    compact(storePath, dst.toString)
    // carry the layout's model sidecar (a retrained store's `_model`)
    // through the rewrite: the compactors read DATA files only
    // (underscore paths are invisible to parquet readers), but a
    // layout must never part from its model
    val srcModel = new org.apache.hadoop.fs.Path(s"$storePath/_model")
    if (fs.exists(srcModel))
      org.apache.hadoop.fs.FileUtil.copy(fs, srcModel, fs,
        new org.apache.hadoop.fs.Path(s"$dst/_model"), false,
        spark.sparkContext.hadoopConfiguration)
    swapInCompacted(spark, storePath)
    true
  }

  /** The CHECKED-RENAME store swap shared by [[compactIfDue]] and the
    * drift-triggered rebuild ([[ivfRetrainRebuild]]):
    * `${storePath}__compact` must already hold the COMPLETE
    * replacement; the live path renames away, the replacement renames
    * in, the old copy drops. Hadoop reports rename failure by return
    * value, so each step is require-checked — a swap either completes
    * or leaves a state [[recoverStoreSwap]] can heal; it never
    * silently deletes the only surviving copy.
    */
  private[graft] def swapInCompacted(spark: org.apache.spark.sql.SparkSession,
                                     storePath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"${storePath}__compact")
    val old = new org.apache.hadoop.fs.Path(s"${storePath}__precompact")
    require(fs.rename(root, old),
      s"swapInCompacted: rename $root -> $old failed; store left in place")
    graft.CrashPoints.hit("swapInCompacted.mid") // between the renames
    require(fs.rename(dst, root),
      s"swapInCompacted: rename $dst -> $root failed; previous copy " +
        s"preserved at $old — recoverStoreSwap($storePath) heals")
    fs.delete(old, true)
  }

  /** Heal [[compactIfDue]]'s swap windows: the store path can be
    * missing only between the two renames, where BOTH full copies
    * exist — `__compact` (the complete compacted store; the compactor
    * finishes before the first rename) and `__precompact` (the
    * original). Prefer finishing the swap (rename the compacted copy
    * in); fall back to restoring the original if the compacted copy is
    * gone. A leftover `__precompact` BESIDE a live store is the
    * post-swap window — just garbage to drop. Idempotent; called by
    * every handler before its first store read.
    */
  private[graft] def recoverStoreSwap(
      spark: org.apache.spark.sql.SparkSession, storePath: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"${storePath}__compact")
    val old = new org.apache.hadoop.fs.Path(s"${storePath}__precompact")
    if (!fs.exists(root)) {
      if (fs.exists(dst)) { require(fs.rename(dst, root)); fs.delete(old, true); true }
      else if (fs.exists(old)) { require(fs.rename(old, root)); true }
      else false
    } else if (fs.exists(old)) { fs.delete(old, true); true }
    else false
  }

  /** One signature store's STORE-HALF facts — what the shared
    * lifecycle ([[retract]], [[maintainTail]]) needs to know about it:
    * its path, the id column its rows and tombstone zone key on, the
    * partition column its merges append by and its compaction trigger
    * counts, how an eager takedown removes rows (`sortCol` defined: the
    * presence-probed full rewrite of a banded store; `None`: the
    * cell-pruned IVF rewrite), and the compactor its trigger runs.
    * Three kinds cover every store here: [[SignatureStore.lsh]],
    * [[SignatureStore.frames]] and [[SignatureStore.ivf]].
    */
  private[graft] final case class SignatureStore(
      path: String, idCol: String, partCol: String, sortCol: Option[String],
      compactor: (SparkSession, String, String) => Unit) {

    private def ids(rm: DataFrame) = rm.select(col("doc_id").as(idCol))

    /** Eager store half over `rm` (one `doc_id` column). A banded
      * store's removal rewrites the whole store, so it runs only when
      * the store still holds a retracted row — a retry after the rows
      * left costs one probe, not a rewrite. The IVF removal rewrites
      * only the cells holding a retracted row, so it needs no probe.
      */
    def remove(spark: SparkSession, rm: DataFrame): Unit = sortCol match {
      case Some(sc) =>
        val present = !spark.read.parquet(path)
          .join(broadcast(ids(rm)), Seq(idCol), "left_semi").isEmpty
        if (present)
          graft.sources.Maintenance.removePartitionedRows(
            spark, path, ids(rm), idCol, partCol, sc)
      case None =>
        graft.sources.Maintenance.removeIvfRows(spark, path, ids(rm), idCol)
    }

    /** Deferred store half: queue `rm`'s ids in the tombstone zone. */
    def tombstone(spark: SparkSession, rm: DataFrame): Unit =
      graft.sources.Maintenance.tombstoneAppend(spark, path, ids(rm), idCol)

    /** The store's [[compactIfDue]] trigger with its own compactor. */
    def compact(spark: SparkSession, maxFiles: Int,
                maxTombstoneFiles: Int = 16): Boolean =
      compactIfDue(spark, path, partCol, maxFiles, maxTombstoneFiles)(
        compactor(spark, _, _))
  }

  private[graft] object SignatureStore {
    /** The text LSH store ([[graft.operators.Dedup.lshStoreWrite]]). */
    def lsh(path: String): SignatureStore =
      SignatureStore(path, "doc_id", "band", Some("sig_h"),
        graft.operators.Dedup.lshStoreCompact(_, _, _))

    /** A banded frame store ([[graft.operators.Multimodal.frameStoreWrite]]):
      * clips, text clips, image hashes and audio fingerprints.
      */
    def frames(path: String): SignatureStore =
      SignatureStore(path, "doc_id", "band_i", Some("band_v"),
        graft.operators.Multimodal.frameStoreCompact(_, _, _))

    /** An IVF cell layout ([[graft.operators.Similarity.ivfWrite]] or
      * the PQ codes store): no within-file sort to restore, so the plain
      * partition compactor.
      */
    def ivf(path: String): SignatureStore =
      SignatureStore(path, "vec_id", "cell", None,
        graft.sources.Maintenance.compactPartitioned(_, _, _, "cell"))
  }

  /** How a takedown's store half runs: rewrite now, or queue in the
    * tombstone zone and leave the rewrite to the compaction trigger.
    */
  private[graft] sealed trait RetractMode
  private[graft] case object Eager extends RetractMode
  private[graft] final case class Deferred(compactMaxFiles: Int,
                                           maxTombstoneFiles: Int)
    extends RetractMode

  /** The ONE takedown skeleton behind every retraction handler of the
    * signature-store families (text, vector, video, audio, cross-modal)
    * — takedown/license-withdrawal compliance over one label store and
    * the signature stores its folds read:
    *
    *  1. heal first — `recoverStoreSwap` on every store, then
    *     `LabelStore.recover`, so a previous call's crashed store swap
    *     or half-staged label removal cannot wedge this one;
    *  2. checkpoint the distinct retracted ids (the store's id column,
    *     renamed `doc_id`);
    *  3. the label half — drop the retracted rows and recontract the
    *     affected components from `evidence(survivors)`: the family's
    *     relation among the affected components' SURVIVING members,
    *     rebuilt from the family's own stores (no corpus access, no
    *     re-decode). The member set comes from the label table, which
    *     already excludes every previously retracted id — eager or
    *     deferred — so pending tombstones cannot leak back in as
    *     evidence. Returns the label rows retracted (0 on a retry);
    *  4. the store half — [[Eager]]: remove the rows from each store
    *     ([[SignatureStore.remove]]); [[Deferred]]: queue the ids in
    *     each store's tombstone zone, then run each store's
    *     [[compactIfDue]].
    *
    * The store half is NOT optional hygiene: signatures left behind
    * keep gate-matching the withdrawn content, and the label fold —
    * finding no label for the retracted id — would resurrect it as a
    * new cluster member (StreamingSpec pins the hazard).
    *
    * CRASH-IDEMPOTENT by construction: each half is gated on its OWN
    * store's state — the labels on the label table's retracted-row
    * count, an eager removal on the store still holding the rows, the
    * zone append on the ids not yet queued — never on the other half's.
    * A crash between the halves re-runs as a labels no-op that still
    * completes the store half (gating both on the label count would
    * make that retry a silent no-op and leave the signatures live).
    * Crash points: `<name>.labels` after the label half, where `name`
    * is the handler's family name plus `Deferred` for the deferred
    * form; a label space with more than one store (cross-modal) adds
    * `<name>.store` after each eager removal and `<name>.zone` after
    * each zone append. The durable steps inside the store devices
    * carry their own points (`removePartitionedRows.staged`,
    * `removePrunedRows.overwrite`, `swapInCompacted.mid`).
    *
    * Eager vs deferred: an eager banded removal is a FULL store rewrite
    * (band values are content-derived, so every partition holds a
    * retracted document's rows — TakedownProbe measures the linear
    * term), the IVF one a rewrite of the affected cells. Deferred makes
    * the takedown O(batch): every store reader is tombstone-aware, so
    * withdrawn content stops matching IMMEDIATELY, and the compaction
    * drops the rows and retires the zone with the old copy. Until then
    * each read pays a broadcast anti-join against the pending set and
    * the rows still occupy disk. Choose eager when takedowns are rare
    * and large, deferred when they are frequent and compaction already
    * runs. Deferred runs [[compactIfDue]] INLINE because a store that
    * only ever takes deferred takedowns has no maintenance handler
    * running the trigger for it: without the check the zone — and every
    * reader's anti-join tax — would grow without bound. The check is
    * listing-only until `maxTombstoneFiles` queued batches (or a
    * partition's slivers) make it due; 0 disables it.
    *
    * NO ADMISSION GUARD is owed (unlike [[lexicalRetractBatch]], whose
    * `_stats` decrement is numeric): an overlapping batch admitted
    * inside the labels→store window counts only the rows the labels
    * still own, and the store half is set-semantics —
    * OverlapAdmissionSpec pins convergence for every family across the
    * eager/deferred form pairs. Retractions serialize with folds
    * through the one maintenance scheduler.
    */
  private def retract(spark: SparkSession, family: String,
                      stores: Seq[SignatureStore], labelPath: String,
                      mode: RetractMode, evidence: DataFrame => DataFrame,
                      removeIds: DataFrame): Long = {
    import graft.operators.LabelStore
    val name = if (mode == Eager) family else s"${family}Deferred"
    def perStore(step: String): Unit =
      if (stores.size > 1) graft.CrashPoints.hit(s"$name.$step")
    stores.foreach(s => recoverStoreSwap(spark, s.path))
    LabelStore.recover(spark, labelPath)
    val rm = removeIds.select(col(stores.head.idCol).as("doc_id")).distinct()
      .localCheckpoint()
    val labels0 = LabelStore.read(spark, labelPath)
      .localCheckpoint(eager = false)
    val before = labels0.join(rm, Seq("doc_id")).count()
    if (before > 0) {
      val affC = labels0.join(rm, Seq("doc_id"))
        .select(col("canonical")).distinct()
      val survIds = labels0.join(broadcast(affC), Seq("canonical"))
        .select(col("doc_id")).join(rm, Seq("doc_id"), "left_anti")
      LabelStore.remove(spark, labelPath, rm, evidence(survIds))
    }
    graft.CrashPoints.hit(s"$name.labels")
    mode match {
      case Eager =>
        stores.foreach { s => s.remove(spark, rm); perStore("store") }
      case Deferred(maxFiles, maxTombstoneFiles) =>
        stores.foreach { s => s.tombstone(spark, rm); perStore("zone") }
        stores.foreach(_.compact(spark, maxFiles, maxTombstoneFiles))
    }
    before
  }

  /** The TEXT takedown ([[retract]] over the LSH store): evidence is
    * the store's pair relation among the surviving members
    * ([[graft.operators.Dedup.lshPairsFromStoreAmong]], computed
    * before the signatures leave, so affected components recontract
    * from the relation the folds consumed; the full-store
    * `lshPairsFromStore` stays the always-safe form for direct
    * `LabelStore.remove` callers, and `remove`'s survivor filter makes
    * the two land identically). Eager removal rewrites the store.
    */
  def dedupRetractBatch(spark: org.apache.spark.sql.SparkSession,
                        lshStorePath: String, labelPath: String)(
                        removeIds: DataFrame): Long =
    retract(spark, "dedupRetract", Seq(SignatureStore.lsh(lshStorePath)),
      labelPath, Eager, textEvidence(spark, lshStorePath), removeIds)

  /** [[dedupRetractBatch]] with the store half tombstoned. */
  def dedupRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                           lshStorePath: String, labelPath: String,
                           compactMaxFiles: Int = DefaultCompactMaxFiles,
                           maxTombstoneFiles: Int = 16)(
                           removeIds: DataFrame): Long =
    retract(spark, "dedupRetract", Seq(SignatureStore.lsh(lshStorePath)),
      labelPath, Deferred(compactMaxFiles, maxTombstoneFiles),
      textEvidence(spark, lshStorePath), removeIds)

  private def textEvidence(spark: SparkSession, lshStorePath: String)(
      survIds: DataFrame): DataFrame =
    graft.operators.Dedup.lshPairsFromStoreAmong(spark, lshStorePath, survIds)

  /** The CROSS-MODAL takedown over the unified label space
    * ([[multimodalMaintainBatch]]'s four frame stores): evidence is the
    * union of the four modalities' relations, each rebuilt from its own
    * store ([[textClipEvidence]], [[perceptualEvidence]] for image and
    * audio, [[videoEvidence]]); the survivors are checkpointed once for
    * the four. The retracted ids leave all four stores.
    */
  def multimodalRetractBatch(spark: org.apache.spark.sql.SparkSession,
                             txtStorePath: String, imgStorePath: String,
                             audStorePath: String, vidStorePath: String,
                             labelPath: String, maxHamming: Int = 3)(
                             removeIds: DataFrame): Long =
    retract(spark, "multimodalRetract",
      Seq(txtStorePath, imgStorePath, audStorePath, vidStorePath)
        .map(SignatureStore.frames), labelPath, Eager,
      multimodalEvidence(spark, txtStorePath, imgStorePath, audStorePath,
        vidStorePath, maxHamming), removeIds)

  /** [[multimodalRetractBatch]] with all four store halves tombstoned. */
  def multimodalRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                                txtStorePath: String, imgStorePath: String,
                                audStorePath: String, vidStorePath: String,
                                labelPath: String, maxHamming: Int = 3,
                                compactMaxFiles: Int = DefaultCompactMaxFiles,
                                maxTombstoneFiles: Int = 16)(
                                removeIds: DataFrame): Long =
    retract(spark, "multimodalRetract",
      Seq(txtStorePath, imgStorePath, audStorePath, vidStorePath)
        .map(SignatureStore.frames), labelPath,
      Deferred(compactMaxFiles, maxTombstoneFiles),
      multimodalEvidence(spark, txtStorePath, imgStorePath, audStorePath,
        vidStorePath, maxHamming), removeIds)

  private def multimodalEvidence(spark: SparkSession, txtStorePath: String,
                                 imgStorePath: String, audStorePath: String,
                                 vidStorePath: String, maxHamming: Int)(
                                 survIds: DataFrame): DataFrame = {
    val surv = survIds.localCheckpoint(eager = false) // four consumers
    textClipEvidence(spark, txtStorePath)(surv)
      .union(perceptualEvidence(spark, imgStorePath, maxHamming)(surv))
      .union(perceptualEvidence(spark, audStorePath, maxHamming)(surv))
      .union(videoEvidence(spark, vidStorePath, maxHamming)(surv))
  }

  /** Surviving members' rows from ONE band partition of a banded frame
    * store — every frame of every stored document, read once.
    */
  private def band0Rows(spark: SparkSession, path: String,
                        survIds: DataFrame): DataFrame =
    spark.read.parquet(path)
      .filter(col("band_i") === 0)
      .select(col("doc_id"), col("frame"), col("fhash"))
      .join(broadcast(survIds), Seq("doc_id"), "left_semi")

  /** Exact-text evidence from a text-clip store: the 2-frame (th, th2)
    * clips pivot back to the signature pair, then p85's star edges.
    */
  private def textClipEvidence(spark: SparkSession, path: String)(
      survIds: DataFrame): DataFrame =
    graft.operators.Pipeline9.exactPairsOfSig(
      band0Rows(spark, path, survIds).groupBy(col("doc_id")).agg(
        max(when(col("frame") === 0, col("fhash"))).as("th"),
        max(when(col("frame") === 1, col("fhash"))).as("th2")))

  /** Image/audio evidence: a one-frame row's hash IS its signature, so
    * p79's banded Hamming relation over the survivors' hashes.
    */
  private def perceptualEvidence(spark: SparkSession, path: String,
                                 maxHamming: Int)(survIds: DataFrame): DataFrame =
    perceptualPairs(band0Rows(spark, path, survIds), "fhash", maxHamming)

  /** Video evidence: p90's equal-length aligned relation over the
    * survivors' frames, clip length as `max(frame) + 1`.
    */
  private def videoEvidence(spark: SparkSession, path: String,
                            maxHamming: Int)(survIds: DataFrame): DataFrame = {
    val frames = band0Rows(spark, path, survIds)
      .localCheckpoint(eager = false) // feeds the length AND the pairs
    val nfr = frames.groupBy(col("doc_id"))
      .agg((max(col("frame")) + 1).cast("int").as("n_frames"))
    videoPairs(frames.join(nfr, Seq("doc_id")), maxHamming)
  }

  /** The VIDEO takedown over a banded clip store: [[videoEvidence]]. */
  def videoRetractBatch(spark: org.apache.spark.sql.SparkSession,
                        frameStorePath: String, labelPath: String,
                        maxHamming: Int = 3)(removeIds: DataFrame): Long =
    retract(spark, "videoRetract", Seq(SignatureStore.frames(frameStorePath)),
      labelPath, Eager, videoEvidence(spark, frameStorePath, maxHamming),
      removeIds)

  /** [[videoRetractBatch]] with the store half tombstoned. */
  def videoRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                           frameStorePath: String, labelPath: String,
                           maxHamming: Int = 3,
                           compactMaxFiles: Int = DefaultCompactMaxFiles,
                           maxTombstoneFiles: Int = 16)(
                           removeIds: DataFrame): Long =
    retract(spark, "videoRetract", Seq(SignatureStore.frames(frameStorePath)),
      labelPath, Deferred(compactMaxFiles, maxTombstoneFiles),
      videoEvidence(spark, frameStorePath, maxHamming), removeIds)

  /** The AUDIO takedown over the banded track-fingerprint store (one
    * frame per track): [[perceptualEvidence]].
    */
  def audioRetractBatch(spark: org.apache.spark.sql.SparkSession,
                        fpStorePath: String, labelPath: String,
                        maxHamming: Int = 3)(removeIds: DataFrame): Long =
    retract(spark, "audioRetract", Seq(SignatureStore.frames(fpStorePath)),
      labelPath, Eager, perceptualEvidence(spark, fpStorePath, maxHamming),
      removeIds)

  /** [[audioRetractBatch]] with the store half tombstoned. */
  def audioRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                           fpStorePath: String, labelPath: String,
                           maxHamming: Int = 3,
                           compactMaxFiles: Int = DefaultCompactMaxFiles,
                           maxTombstoneFiles: Int = 16)(
                           removeIds: DataFrame): Long =
    retract(spark, "audioRetract", Seq(SignatureStore.frames(fpStorePath)),
      labelPath, Deferred(compactMaxFiles, maxTombstoneFiles),
      perceptualEvidence(spark, fpStorePath, maxHamming), removeIds)

  /** The VECTOR takedown over an IVF cell layout: the survivors fetch
    * their embeddings from the cells and their τ-relation recomputes
    * cell-blocked. `nProbe` must match the width the FOLDS ran at
    * (recontraction must use the relation the folds consumed; the
    * registered incremental entry folds at `nProbe = cents.length`).
    * Eager removal rewrites only the cells holding a retracted vector;
    * deferred queues `vec_id`s, which every stored ANN reader
    * anti-joins (Similarity's stored probes and
    * `Pipeline6.ivfPqTopKStored`), and the rows leave with whichever
    * full rewrite comes first: the zone-count compaction, an eager
    * takedown, or [[ivfRetrainRebuild]].
    */
  def vectorRetractBatch(spark: org.apache.spark.sql.SparkSession,
                         ivfStorePath: String, labelPath: String,
                         cents: Array[(Int, Seq[Float])], tau: Double,
                         nProbe: Int)(removeIds: DataFrame): Long =
    retract(spark, "vectorRetract", Seq(SignatureStore.ivf(ivfStorePath)),
      labelPath, Eager,
      vectorEvidence(spark, ivfStorePath, cents, tau, nProbe), removeIds)

  /** [[vectorRetractBatch]] with the store half tombstoned. */
  def vectorRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                            ivfStorePath: String, labelPath: String,
                            cents: Array[(Int, Seq[Float])], tau: Double,
                            nProbe: Int,
                            compactMaxFiles: Int = DefaultCompactMaxFiles,
                            maxTombstoneFiles: Int = 16)(
                            removeIds: DataFrame): Long =
    retract(spark, "vectorRetract", Seq(SignatureStore.ivf(ivfStorePath)),
      labelPath, Deferred(compactMaxFiles, maxTombstoneFiles),
      vectorEvidence(spark, ivfStorePath, cents, tau, nProbe), removeIds)

  private def vectorEvidence(spark: SparkSession, ivfStorePath: String,
                             cents: Array[(Int, Seq[Float])], tau: Double,
                             nProbe: Int)(survIds: DataFrame): DataFrame =
    graft.operators.Similarity.cellBlockedTauPairs(
      spark.read.parquet(ivfStorePath)
        .select(col("vec_id"), col("embedding"))
        .join(broadcast(survIds.select(col("doc_id").as("vec_id"))),
          Seq("vec_id"), "left_semi"),
      cents, tau, nProbe)

  /** Drift-triggered IVF RETRAIN + REBUILD — the composition the three
    * existing parts were waiting for: the p112 drift gate
    * ([[embeddingDriftGateBatch]]) says the feed moved, the warm-start
    * frozen Lloyd ([[graft.operators.Similarity.retrainIvfCentroidsFrozen]],
    * seeded at the CURRENT model) moves the centroids toward the
    * drifted mass in the live store, and the checked-rename swap
    * ([[swapInCompacted]], healed by [[recoverStoreSwap]]) puts the
    * re-assigned layout in place. Without it a drifted feed degrades
    * probe recall FOREVER (the p104 dial measures it): `cents` freeze
    * at store build by the `ivfAppend` contract, so cells stop
    * matching where the data actually lives.
    *
    * Returns the retrained model when the gate fired (the caller MUST
    * adopt it — cells are defined by the model, so probing the rebuilt
    * store with the old centroids reads the wrong cells), None when
    * the batch is within the threshold. The rebuild re-reads only the
    * live store (one assignment pass, map-side against the broadcast
    * retrained model; `ingest_batch` carried through so the staged
    * merge's exactly-once presence probe survives) and trains on the
    * store's own vectors — never the raw corpus. Run from the one
    * maintenance scheduler, like every swap here.
    *
    * SimilaritySpec pins the composition on a drifted clustered
    * fixture: the gate fires on the drifted feed (and stays quiet on
    * an in-distribution one), full-probe results on unchanged vectors
    * are identical pre/post rebuild (the layout is
    * semantics-preserving at any model), partial-probe recall on the
    * drifted queries RECOVERS, and a crash between the two renames
    * heals.
    */
  def ivfRetrainIfDrifted(spark: org.apache.spark.sql.SparkSession,
                          storePath: String,
                          cents: Array[(Int, Seq[Float])],
                          baseRates: DataFrame, batch: DataFrame,
                          thresholdPpm2: Long, rounds: Int = 2)
                          : Option[Array[(Int, Seq[Float])]] = {
    recoverStoreSwap(spark, storePath)
    val fired = embeddingDriftGateBatch(batch, baseRates, cents,
      thresholdPpm2)
    if (fired.isEmpty) None
    else Some(ivfRetrainRebuild(spark, storePath, cents, rounds))
  }

  /** The rebuild half of [[ivfRetrainIfDrifted]], callable directly
    * for scheduled (non-gated) retrains: warm-start frozen Lloyd on
    * the LIVE store's vectors, re-assign every stored row under the
    * retrained model into `__compact`, swap with the checked renames.
    * Returns the retrained model.
    *
    * MODEL-ADOPTION ATOMICITY: cells are defined by the model, so a
    * crash after the swap but before the caller persists the returned
    * centroids would otherwise leave a layout nobody holds the model
    * for — every probe/ingest under the old model would silently read
    * and write the wrong cells. The rebuild therefore writes the
    * retrained model INTO the compacted store (`_model`, an
    * underscore path invisible to parquet readers of the store
    * itself) BEFORE the swap: layout and model travel together
    * through every crash window, and a restarted deployment recovers
    * the layout's true model with [[ivfStoreModel]] instead of
    * trusting its own possibly-stale copy.
    */
  def ivfRetrainRebuild(spark: org.apache.spark.sql.SparkSession,
                        storePath: String,
                        cents: Array[(Int, Seq[Float])],
                        rounds: Int = 2): Array[(Int, Seq[Float])] = {
    import graft.operators.Similarity
    recoverStoreSwap(spark, storePath)
    // tombstone-aware like every full rewrite-and-swap: the swap below
    // retires the zone with the old root, so keeping queued rows in the
    // rebuilt layout would silently resurrect deferred takedowns AND
    // destroy the only record that they were pending (no zone →
    // passthrough; the retrain then also trains on survivors only,
    // which is what a post-takedown model must do)
    val live = graft.sources.Maintenance.minusTombstones(spark, storePath,
        spark.read.parquet(storePath))
      .select(col("vec_id"), col("embedding"), col("ingest_batch"))
    val retrained = Similarity.retrainIvfCentroidsFrozen(
      live.select(col("vec_id"), col("embedding")), cents, rounds)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"${storePath}__compact")
    fs.delete(dst, true)
    fs.delete(new org.apache.hadoop.fs.Path(s"${storePath}__precompact"), true)
    graft.sources.Partitioned.writeBy(
      Similarity.assignCellsKeeping(retrained, live, Seq("ingest_batch")),
      dst.toString, "cell")
    graft.CrashPoints.hit("ivfRetrainRebuild.layout")
    // the model lands inside the replacement BEFORE the swap — never a
    // window where the live layout and its model can part ways
    import spark.implicits._
    retrained.toSeq.toDF("ccid", "ce")
      .write.mode("overwrite").parquet(s"$dst/_model")
    graft.CrashPoints.hit("ivfRetrainRebuild.model")
    swapInCompacted(spark, storePath)
    retrained
  }

  /** The centroid model a store's layout was (re)built with, read back
    * from its `_model` sidecar — present on every
    * [[ivfRetrainRebuild]] output; None for stores that have never
    * been retrained (their model is the build-time frozen one the
    * deployment already holds, the `ivfAppend` contract). The
    * source of truth after a crash: a layout always carries its own
    * model, so no restart can probe rebuilt cells with stale
    * centroids.
    */
  def ivfStoreModel(spark: org.apache.spark.sql.SparkSession,
                    storePath: String): Option[Array[(Int, Seq[Float])]] = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/_model")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1))
  }

  /** The VECTOR maintenance handler — [[dedupMaintainBatch]]'s
    * embedding twin (p126's loop as a library call) over an IVF cell
    * layout: the gate is `Similarity.ivfProbeNearDup`, which yields
    * EVERY published vector within cosine `tau` (all pairs, not just
    * the closest — the fold needs the full evidence, which is why this
    * calls the probe rather than [[embeddingDedupGateBatch]]); the
    * within-batch τ-pairs come from the cell-blocked exact pass at full
    * fan-out. At `nProbe = nCells` the fold is EXACT
    * (append-equals-rebuild, p126's oracle-proved property); smaller
    * widths trade recall per the p104/p116 dials, and the labels remain
    * a REFINEMENT of the exact ones (DedupSpec pins it). Returns the
    * gate's (vec_id, dup_of, cos) pairs; `cents` is frozen at store
    * build.
    */
  def vectorDedupMaintainBatch(spark: org.apache.spark.sql.SparkSession,
                               ivfStorePath: String, labelPath: String,
                               stagePath: String,
                               cents: Array[(Int, Seq[Float])],
                               tau: Double, nProbe: Int = 2,
                               compactMaxFiles: Int = DefaultCompactMaxFiles)(
                               batch: DataFrame, id: Long): DataFrame = {
    import graft.operators.Similarity
    recoverStoreSwap(spark, ivfStorePath)
    val b = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
    if (b.isEmpty)
      return emptyFrame(spark, "vec_id" -> 0L, "dup_of" -> 0L, "cos" -> 0.0d)
    val gate = Similarity
      .ivfProbeNearDup(spark, ivfStorePath, b, cents, tau, nProbe)
      .select(col("qid").as("vec_id"), col("cid").as("dup_of"), col("cos"))
      .localCheckpoint() // feeds the fold AND the return
    // within-batch exact τ-pairs by cell blocking at FULL fan-out —
    // exact at any batch size (every pair shares a cell) with the
    // comparisons hash-partitioned by cell instead of one cartesian
    // stage, so an oversized micro-batch cannot plan a cross join
    maintainTail(spark, labelPath, stagePath, id, compactMaxFiles, gate)(
      b.select(col("vec_id").as("doc_id")),
      Similarity.cellBlockedTauPairs(b, cents, tau, nProbe = cents.length))(
      (stagePath, Similarity.assignCells(cents, b),
        SignatureStore.ivf(ivfStorePath)))
    gate
  }

  /** Banded Hamming gate of arriving one-frame hashes (`doc_id` plus
    * `hashCol`) against a frame store: every stored hash within
    * `maxHamming`, as (doc_id, dup_of, hamming).
    */
  private def perceptualGate(spark: SparkSession, storePath: String,
                             hashes: DataFrame, hashCol: String,
                             maxHamming: Int): DataFrame =
    graft.operators.Multimodal.frameProbeStoredDF(spark, storePath,
        hashes.select(col("doc_id").as("qid"), col(hashCol).as("qhash")),
        maxHamming)
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid").as("doc_id"), col("doc_id").as("dup_of"),
        col("hamming"))

  /** p79's banded Hamming pairs over one-frame hashes. */
  private def perceptualPairs(hashes: DataFrame, hashCol: String,
                              maxHamming: Int): DataFrame =
    graft.operators.Multimodal.perceptualNearDupPairs(
        hashes.select(col("doc_id"), col(hashCol).as("dhash")), maxHamming)
      .select(col("d1"), col("d2"))

  /** p90's equal-length aligned pairs over decoded frames. */
  private def videoPairs(frames: DataFrame, maxHamming: Int): DataFrame =
    graft.operators.Multimodal.videoNearDupPairs(frames, maxHamming)
      .select(col("d1"), col("d2"))

  /** The VIDEO maintenance handler (p127's loop as a library call)
    * over a banded clip store: ONE decode of the raw clips (the
    * [[frameIngestBatch]] contract) feeds the gate
    * ([[graft.operators.Multimodal.videoNearDupStored]], p90's relation
    * batch vs store), the within-batch pairs ([[videoPairs]]) and the
    * banded frame rows, so p91's clip-cluster labels and their
    * p118/p125 weights stay current with no re-decode of the published
    * corpus.
    */
  def videoMaintainBatch(spark: org.apache.spark.sql.SparkSession,
                         frameStorePath: String, labelPath: String,
                         stagePath: String, maxHamming: Int = 3,
                         compactMaxFiles: Int = DefaultCompactMaxFiles)(
                         batch: DataFrame, id: Long): DataFrame = {
    import graft.operators.Multimodal
    recoverStoreSwap(spark, frameStorePath)
    val frames = Multimodal.decodeVideoFrames(batch)
      .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
      .localCheckpoint() // ONE decode: gate + within pairs + ingest
    if (frames.isEmpty)
      return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L,
        "max_hamming" -> 0)
    val gate = Multimodal
      .videoNearDupStored(spark, frameStorePath, frames, maxHamming)
      .localCheckpoint() // feeds the fold AND the return
    maintainTail(spark, labelPath, stagePath, id, compactMaxFiles, gate)(
      frames.select(col("doc_id")).distinct(),
      videoPairs(frames, maxHamming))(
      (stagePath, Multimodal.bandFrames(
        frames.select(col("doc_id"), col("frame"), col("fhash"))),
        SignatureStore.frames(frameStorePath)))
    gate
  }

  /** The AUDIO maintenance handler (p128's loop as a library call)
    * over the banded track-fingerprint store of one-frame
    * `(doc_id, 0, afp)` rows — no alignment stage, a track's 60-bit
    * fingerprint IS its signature: ONE decode feeds the
    * [[perceptualGate]], the within-batch [[perceptualPairs]] and the
    * banded rows, keeping p79's cluster state live with no re-decode
    * of the published corpus.
    */
  def audioMaintainBatch(spark: org.apache.spark.sql.SparkSession,
                         fpStorePath: String, labelPath: String,
                         stagePath: String, maxHamming: Int = 3,
                         compactMaxFiles: Int = DefaultCompactMaxFiles)(
                         batch: DataFrame, id: Long): DataFrame = {
    import graft.operators.Multimodal
    recoverStoreSwap(spark, fpStorePath)
    val fps = Multimodal.decodeWave(batch)
      .select(col("doc_id"), col("afp"))
      .localCheckpoint() // ONE decode: gate + within pairs + ingest
    if (fps.isEmpty)
      return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L, "hamming" -> 0)
    val gate = perceptualGate(spark, fpStorePath, fps, "afp", maxHamming)
      .localCheckpoint() // feeds the fold AND the return
    maintainTail(spark, labelPath, stagePath, id, compactMaxFiles, gate)(
      fps.select(col("doc_id")), perceptualPairs(fps, "afp", maxHamming))(
      (stagePath, Multimodal.bandFrames(fps.select(col("doc_id"),
        lit(0).as("frame"), col("afp").as("fhash"))),
        SignatureStore.frames(fpStorePath)))
    gate
  }

  /** The CROSS-MODAL maintenance handler — p132's loop as a library
    * call, the per-modality handlers composed over ONE unified label
    * space and four banded frame stores: per micro-batch of documents
    * carrying every modality's raw payload (`doc_id, text, img, wav,
    * vid` — the three binary columns in the attach writers' payload
    * format),
    *
    *  1. decode each modality ONCE (text hashes to the (th, th2)
    *     128-bit composite as 2-frame clips; raster to dHash; RIFF/PCM
    *     to the 60-bit profile fingerprint; video to frame hashes);
    *  2. gate each modality against ITS store (exact-text via the
    *     radius-0 aligned verify, image/audio via [[perceptualGate]],
    *     video via the anchor-probe + aligned verify);
    *  3. fold ALL evidence — four within-batch relations plus four
    *     gate feeds — with a single union-find step, so a document
    *     whose text matches one published doc and whose audio matches
    *     another merges all three families exactly as p85's batch
    *     contraction would;
    *  4. ingest each modality's banded rows under its own stage
    *     subdirectory `stagePath/<txt|img|aud|vid>`; the fold marker
    *     stays at `stagePath`.
    *
    * Returns the gate verdicts tagged by modality; the label store's
    * weights then serve cross-modal soft-dedup release draws with no
    * corpus re-decode.
    */
  def multimodalMaintainBatch(spark: org.apache.spark.sql.SparkSession,
                              txtStorePath: String, imgStorePath: String,
                              audStorePath: String, vidStorePath: String,
                              labelPath: String, stagePath: String,
                              maxHamming: Int = 3,
                              compactMaxFiles: Int = DefaultCompactMaxFiles)(
                              batch: DataFrame, id: Long): DataFrame = {
    import graft.operators.{Multimodal, Pipeline9}
    Seq(txtStorePath, imgStorePath, audStorePath, vidStorePath)
      .foreach(recoverStoreSwap(spark, _))
    val b = batch.localCheckpoint()
    if (b.isEmpty)
      return emptyFrame(spark, "doc_id" -> 0L, "dup_of" -> 0L,
        "modality" -> "")
    // ONE decode per modality: gates + within pairs + ingest rows
    val tf = Pipeline9.exactTextSigFrames(b.select(col("doc_id"), col("text")))
      .localCheckpoint()
    val dh = Multimodal.decodeRaster(
        b.select(col("doc_id"), col("img").as("payload")))
      .select(col("doc_id"), col("dhash")).localCheckpoint()
    val af = Multimodal.decodeWave(
        b.select(col("doc_id"), col("wav").as("payload")))
      .select(col("doc_id"), col("afp")).localCheckpoint()
    val vf = Multimodal.decodeVideoFrames(
        b.select(col("doc_id"), col("vid").as("payload")))
      .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
      .localCheckpoint()
    def tagged(g: DataFrame, modality: String) =
      g.select(col("doc_id"), col("dup_of"), lit(modality).as("modality"))
    val gate = tagged(Multimodal.videoNearDupStored(spark, txtStorePath, tf, 0),
        "text")
      .unionByName(tagged(
        perceptualGate(spark, imgStorePath, dh, "dhash", maxHamming), "image"))
      .unionByName(tagged(
        perceptualGate(spark, audStorePath, af, "afp", maxHamming), "audio"))
      .unionByName(tagged(
        Multimodal.videoNearDupStored(spark, vidStorePath, vf, maxHamming),
        "video"))
      .localCheckpoint() // feeds the fold AND the return
    def oneFrame(d: DataFrame, hashCol: String) =
      d.select(col("doc_id"), lit(0).as("frame"), col(hashCol).as("fhash"))
    maintainTail(spark, labelPath, stagePath, id, compactMaxFiles, gate)(
      b.select(col("doc_id")).distinct(),
      Pipeline9.exactTextPairsOf(b.select(col("doc_id"), col("text")))
        .union(perceptualPairs(dh, "dhash", maxHamming))
        .union(perceptualPairs(af, "afp", maxHamming))
        .union(videoPairs(vf, maxHamming)))(
      Seq(
        ("txt", tf.select(col("doc_id"), col("frame"), col("fhash")),
          txtStorePath),
        ("img", oneFrame(dh, "dhash"), imgStorePath),
        ("aud", oneFrame(af, "afp"), audStorePath),
        ("vid", vf.select(col("doc_id"), col("frame"), col("fhash")),
          vidStorePath))
        .map { case (tag, rows, store) =>
          (s"$stagePath/$tag", Multimodal.bandFrames(rows),
            SignatureStore.frames(store))
        }: _*)
    gate
  }

  /** The composed ADMISSION pipeline — the one `foreachBatch` handler
    * an ingestion deployment copies: chain the frozen-model gates over
    * ONE micro-batch of (doc_id, text) documents and emit a per-
    * document verdict. Gate order encodes their scopes:
    *
    *  1. BATCH-scoped health gates first — token drift
    *     ([[driftGateBatch]]) then OOV ([[oovGateBatch]]): if either
    *     fires, the whole batch is quarantined (`reason` = 'drift' /
    *     'oov') — a drifted feed's documents are not individually
    *     trustworthy, so per-doc checks are skipped, and their cost
    *     with them.
    *  2. DOC-scoped gates on surviving batches — benchmark
    *     contamination first (`reason` = 'contaminated', when a frozen
    *     benchmark frame is supplied: eval safety outranks dedup), then
    *     near-dup ([[textDedupGateBatch]] against the live p111 store;
    *     `reason` = 'near_dup', `dup_of` names the stored doc, a doc
    *     matching several keeps the smallest id — deterministic).
    *
    * Admitted rows (`admitted` = true, reason/dup_of null) are the set
    * to pass to the ingest stage ([[lshIngestBatch]] and siblings).
    * The batch is localCheckpoint'd once and feeds every gate — four
    * verdicts, one materialization of the arriving text.
    *
    * MAINTENANCE step (on the schedule, not per batch): streamed
    * merges leave one unsorted sliver file per batch in each store
    * partition; run `sources.Maintenance.compactionPlan` over each
    * live store (band/`sig_h` here, band_i/`band_v` for the frame and
    * audio stores, cell for IVF) and feed its `compact = true`
    * partitions to the matching compactor — the planner reads only
    * the file-stats manifest, so the decision costs no data rewrite.
    */
  /** `benchIndex` is a PRECOMPUTED frozen
    * [[graft.operators.Pipeline10.benchShingleIndex]] (build once per
    * deployment, like baseRates/vocab — benchmarks are frozen by
    * definition, so re-deriving the index per micro-batch would pay
    * its explode+distinct on every trigger); `contaminationN` must be
    * the width the index was built with. `verifySidecar`, when given
    * (a [[graft.operators.Dedup.shingleStoreWrite]] path + τ),
    * upgrades the near-dup gate from p04-candidate semantics to the
    * VERIFIED gate ([[textDedupVerifiedGateBatch]]): only candidates
    * confirmed at exact Jaccard ≥ τ against the at-rest sidecar
    * quarantine — a banding false positive is then admitted instead
    * of dropped, at the cost of one candidate-bucket-pruned sidecar
    * read. `scoreGate`, when given (frozen classifier weights, frozen
    * [[graft.operators.Pipeline13.scoreBandRates]] base, ppm²
    * threshold), adds the label-free classifier-health member to the
    * batch-scoped stage ([[scoreDriftGateBatch]], `reason` =
    * 'score_drift'), ordered after token drift and OOV: it is the
    * most model-specific of the three, so the cheaper feed-level
    * gates get first refusal.
    */
  def admissionGateBatch(spark: org.apache.spark.sql.SparkSession,
                         lshStorePath: String, baseRates: DataFrame,
                         vocab: DataFrame, driftPpm2: Long,
                         oovPpm: Long, benchIndex: Option[DataFrame] = None,
                         contaminationN: Int =
                           graft.operators.Pipeline10.DecontShingleN,
                         contaminationPct: Int = 5,
                         verifySidecar: Option[(String, Double)] = None,
                         scoreGate: Option[(DataFrame, DataFrame, Long)] =
                           None)(
                         batch: DataFrame): DataFrame = {
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val ids = b.select(col("doc_id"))
    def quarantined(reason: String): DataFrame =
      ids.select(col("doc_id"), lit(false).as("admitted"),
        lit(reason).as("reason"), lit(null).cast("long").as("dup_of"))
    if (b.isEmpty) return quarantined("empty").limit(0)
    if (!driftGateBatch(b, baseRates, driftPpm2).isEmpty)
      return quarantined("drift")
    if (!oovGateBatch(b, vocab, oovPpm).isEmpty)
      return quarantined("oov")
    scoreGate match {
      case Some((weights, baseBands, ppm2))
          if !scoreDriftGateBatch(b, weights, baseBands, ppm2).isEmpty =>
        return quarantined("score_drift")
      case _ =>
    }
    val cont = benchIndex match {
      case Some(idx) =>
        graft.operators.Pipeline10
          .decontaminateAgainstIndex(b, idx, contaminationN, contaminationPct)
          .filter(col("contaminated"))
          .select(col("doc_id"), lit(true).as("__cont"))
      case None => ids.select(col("doc_id"), lit(true).as("__cont")).limit(0)
    }
    val dups = (verifySidecar match {
      case Some((sidecar, tau)) =>
        textDedupVerifiedGateBatch(spark, lshStorePath, sidecar, tau)(b)
          .select(col("doc_id"), col("dup_of"))
      case None => textDedupGateBatch(spark, lshStorePath)(b)
    }).groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
    ids.join(cont, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("__cont").isNull && col("dup_of").isNull).as("admitted"),
        when(col("__cont").isNotNull, lit("contaminated"))
          .when(col("dup_of").isNotNull, lit("near_dup")).as("reason"),
        when(col("__cont").isNull, col("dup_of")).as("dup_of"))
  }

  /** The composed VECTOR admission pipeline — the embedding-stream
    * twin of [[admissionGateBatch]], in the same gate order: the
    * BATCH-scoped health gate first ([[embeddingDriftGateBatch]]: a
    * model-version switch or normalization bug quarantines the whole
    * batch, `reason` = 'drift', skipping per-vector cost), then the
    * per-VECTOR near-dup gate against the live IVF store
    * ([[embeddingDedupGateBatch]]; `reason` = 'near_dup', `dup_of`
    * names the closest published vector). Admitted rows are the set
    * to pass to [[ivfIngestBatch]]. The batch is localCheckpoint'd
    * once and feeds both gates.
    */
  def vectorAdmissionGateBatch(spark: org.apache.spark.sql.SparkSession,
                               ivfStorePath: String,
                               cents: Array[(Int, Seq[Float])],
                               baseRates: DataFrame, driftPpm2: Long,
                               tau: Double, nProbe: Int = 2)(
                               batch: DataFrame): DataFrame = {
    val b = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
    val ids = b.select(col("vec_id"))
    def quarantined(reason: String): DataFrame =
      ids.select(col("vec_id"), lit(false).as("admitted"),
        lit(reason).as("reason"), lit(null).cast("long").as("dup_of"))
    if (b.isEmpty) return quarantined("empty").limit(0)
    if (!embeddingDriftGateBatch(b, baseRates, cents, driftPpm2).isEmpty)
      return quarantined("drift")
    val dups = embeddingDedupGateBatch(spark, ivfStorePath, cents, tau,
        nProbe)(b)
      .select(col("vec_id"), col("dup_of"))
    ids.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNull.as("admitted"),
        when(col("dup_of").isNotNull, lit("near_dup")).as("reason"),
        col("dup_of"))
  }

  /** Streaming LEXICAL index ingestion, stage 1: tokenize each
    * micro-batch of (doc_id, text) documents into posting rows (the
    * exact `Pipeline6.postingsOf` form the index build uses) and land
    * them exactly-once in the staging zone — the posting-list twin of
    * [[ivfPqIngestBatch]]. No separate stats dataset is staged: a
    * posting batch is self-describing (every document owns at least
    * one row and carries its dl on each), so the merge recovers the
    * batch's exact (n, sdl) from the staged rows themselves — one
    * dataset, one commit marker, no two-file atomicity dance.
    *
    * Contract: batch doc_ids must be new (unseen by the index), the
    * [[graft.operators.Pipeline6.postingsWrite]] ingest contract.
    */
  def lexicalIngestBatch(stagePath: String)(batch: DataFrame, id: Long): Unit =
    idempotentParquetBatch(stagePath)(
      graft.operators.Pipeline6.postingsOf(batch), id)

  /** Streaming lexical ingestion, stage 2: fold staged-and-committed
    * posting batches into the live bucketed index — append the rows
    * with the table's own bucket spec (`nBuckets` MUST match the
    * build) and APPEND the batch's exact (batch_id, n, sdl) stats row
    * (pure long addition at read time — BM25's idf/avgdl stay exact,
    * not approximately refreshed), then tombstone. Returns batches
    * processed (folded or repaired).
    *
    * EXACTLY-ONCE fold via two durable markers that live IN the data:
    *  1. the appended posting rows carry `ingest_batch` = the staged
    *     batch id (a row-group-pruned presence probe, as
    *     [[ivfPqMergeStaged]]);
    *  2. the batch's stats row in the append-only `_stats` table is
    *     the COMMIT RECORD — it is written last, in one atomic parquet
    *     append, and a batch is folded iff its stats row exists.
    * Every crash window re-runs safely: before the posting append →
    * plain retry; between posting append and stats append → the
    * presence probe skips the re-append and only the stats row is
    * written; between stats append and tombstone → the commit record
    * short-circuits to tombstone repair. No window can double-count a
    * posting row or a stats fold, so bm25FromPostings' one-row-per-
    * (term, doc) invariant survives any crash. Zero-row batches fold
    * as a (id, 0, 0) stats row — never a poison pill. Run merges
    * serially from one scheduler, and retry a crashed job to
    * completion before admitting the next (the takedown handlers
    * additionally ENFORCE their half of that ordering in code —
    * [[guardRetractAdmission]]).
    */
  /** `compactMaxFiles` wires the family's compaction trigger to the
    * BUCKETED layout: past that many sliver files in any bucket, the
    * merge pays `Bucketed.compactIfDueBucketed` (listing-only check;
    * the table rewrite re-declares the bucket spec, preserves
    * `ingest_batch`, and never touches the append-only `_stats` commit
    * table) — the BASELINE-measured 19× posting-probe pathology is
    * exactly what accrues between manual compactions. 0 disables.
    */
  def lexicalMergeStaged(spark: org.apache.spark.sql.SparkSession,
                         stagePath: String, table: String,
                         nBuckets: Int,
                         compactMaxFiles: Int = DefaultCompactMaxFiles): Int = {
    // a previous merge's compaction may have died between DROP and
    // RENAME — finish its swap before reading the table
    graft.sources.Bucketed.recoverBucketedSwap(spark, table)
    val stage = new org.apache.hadoop.fs.Path(stagePath)
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(stage)) return 0
    val ready = stagedReady(fs, stage)
    ready.foreach { case (p, id) =>
      val committed = !spark.table(s"${table}_stats")
        .filter(col("batch_id") === id).isEmpty
      if (!committed) {
        val staged = spark.read.parquet(p.toString)
        val appended = !spark.table(table)
          .filter(col("ingest_batch") === id).isEmpty
        if (!appended)
          staged.withColumn("ingest_batch", lit(id))
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .bucketBy(nBuckets, "term").sortBy("term")
            .format("parquet").saveAsTable(table)
        graft.operators.Pipeline6.statsOfPostings(staged)
          .select(lit(id).as("batch_id"), col("n"), col("sdl"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(s"${table}_stats")
      }
      fs.create(new org.apache.hadoop.fs.Path(p, "_GRAFT_MERGED"), true).close()
    }
    if (ready.nonEmpty)
      graft.sources.Bucketed.compactIfDueBucketed(
        spark, table, "term", nBuckets, compactMaxFiles)
    ready.length
  }

  /** The LEXICAL RETRACTION handler — takedown reaches RETRIEVAL: the
    * dedup-store takedowns ([[dedupRetractBatch]] and its twins) stop
    * withdrawn content from re-clustering, but a retracted document
    * left in the POSTING store stays *retrievable* — BM25, phrase and
    * proximity probes keep returning it, which is the user-visible
    * compliance failure. This handler removes the retracted ids'
    * posting rows from the term-bucketed index AND appends the exact
    * NEGATIVE stats row that keeps BM25's idf/avgdl bit-identical to a
    * from-scratch index of the surviving corpus:
    *
    *  1. heal-first ([[graft.sources.Bucketed.recoverBucketedSwap]] —
    *     a previous retraction/compaction's crashed swap must not
    *     wedge this one);
    *  2. stats half, gated on the append-only `_stats` table's own
    *     state (a row with `batch_id = retractId` IS the commit
    *     record, the [[lexicalMergeStaged]] discipline): derive the
    *     retracted docs' exact (n, sdl) FROM the store's own rows
    *     (postings are self-describing — every doc owns ≥1 row and
    *     carries its dl on each), then append `(retractId, -n, -sdl)`.
    *     Readers fold stats with `sum` on longs, so the decrement is
    *     exact and order-free — idf/avgdl after retraction equal the
    *     surviving corpus's, not an approximation.
    *  3. posting half, gated on the store's own state (any retracted
    *     id still present): the staged bucket-preserving rewrite
    *     ([[graft.sources.Bucketed.removeBucketedRows]] — a doc's
    *     terms scatter across every term bucket, so this is the full
    *     rewrite the banded stores also pay; takedowns batch).
    *
    * ORDER MATTERS for crash safety: stats first, because after the
    * rows are gone their (n, sdl) is underivable — a crash between the
    * halves re-runs as a stats-no-op (the commit record exists) that
    * still removes the postings, and a full retry is a double no-op.
    * The transient between the halves (stats decremented, rows still
    * present) is the same read-skew window every staged merge has in
    * reverse; mutations serialize through the one maintenance
    * scheduler. `retractId` must be unique in the stats table's
    * batch_id namespace (ingest ids are ≥ 0 and the build row is -1 —
    * use ≤ -2 for retractions). Returns the number of documents whose
    * postings were actually retracted (0 on a retry/no-op).
    */
  /** Deterministic CONTENT-DERIVED retraction id for
    * [[lexicalRetractBatch]]: the order-free XOR-fold of the batch's
    * per-id hashes, mapped into the reserved `<= -2` range. The same
    * takedown batch always maps to the same id — a crash retry finds
    * its own commit record and stays idempotent — while two DISTINCT
    * batches collide with probability ~2⁻⁶², closing the id-reuse
    * hazard of a hand-picked constant: reusing an id across different
    * batches makes the second takedown silently skip its stats
    * decrement, permanently skewing idf/avgdl. XOR, not SUM: the fold
    * runs under ANSI arithmetic, where summing full-range xxhash64
    * longs overflows on a multi-id batch (found by the randomized
    * interleaving harness); XOR is equally order-free, cannot
    * overflow, and the post-distinct input means no id can cancel
    * itself out.
    *
    * MIGRATION NOTE for persisted deployments: the formula IS the id
    * namespace — changing it (as the round-15 SUM→XOR fix did) orphans
    * commit records written under the old formula: a retry of an old
    * batch computes a fresh id and re-decrements, and an old STRANDED
    * record can never be retried to completion (the admission guard
    * would refuse all future takedowns on that table). A store whose
    * `_stats` table predates a formula change must first drain: verify
    * `unfinishedRetractions` is empty under the old build, then
    * upgrade. The LEDGER itself has the same class of migration: a
    * store whose stats commits predate the `_retract_done` table looks
    * all-stranded to the guard — run [[adoptRetractionLedger]] ONCE
    * (after verifying the store is healthy) to backfill completion
    * records for the historical batches. This repo's stores rebuild
    * per JVM, so no migration was owed here.
    */
  def retractIdFor(removeIds: DataFrame): Long = {
    val s = removeIds.select(col("doc_id")).distinct()
      .select(xxhash64(col("doc_id")).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L))).head().getLong(0)
    -2L - (s >>> 2)
  }

  /** The completion ledger behind the takedown ADMISSION GUARD: one
    * `batch_id` row per retraction whose NON-stats half (posting
    * rewrite / zone append) has landed. A separate append-only catalog
    * table — like `_stats` it survives every compaction swap (the swap
    * replaces the posting table's directory, never the sidecar
    * tables), so `stats-committed minus done` is exactly the set of
    * takedowns stranded in the stats→zone/stats→rewrite crash window,
    * forever observable.
    */
  private def retractDoneTable(table: String) = s"${table}_retract_done"

  /** Retraction ids of `table` whose stats commit record landed but
    * whose completion record did not — each one is a takedown that
    * crashed between its halves. Inside that window the "already
    * decremented" fact is observable ONLY through the missing
    * zone/rewrite, so a second overlapping batch admitted there would
    * decrement shared ids AGAIN; the guard below refuses exactly that.
    * One tiny sidecar-table read; empty on every healthy store.
    */
  def unfinishedRetractions(spark: org.apache.spark.sql.SparkSession,
                            table: String): Seq[Long] = {
    if (!spark.catalog.tableExists(s"${table}_stats")) return Nil
    val committed = spark.table(s"${table}_stats")
      .filter(col("batch_id") <= -2L).select(col("batch_id")).distinct()
    val open =
      if (spark.catalog.tableExists(retractDoneTable(table)))
        committed.join(spark.table(retractDoneTable(table)),
          Seq("batch_id"), "left_anti")
      else committed
    open.collect().map(_.getLong(0)).toSeq
  }

  /** The ADMISSION GUARD both lexical takedown forms run on entry —
    * the overlap-ordering contract enforced instead of documented: a
    * NEW batch is refused while a DIFFERENT batch's takedown is
    * stranded between its stats commit and its zone/rewrite half
    * (retry that batch to completion first — it is idempotent); the
    * stranded batch's own retry is always admitted. Without this, a
    * second batch sharing ids with the stranded one would re-derive
    * those ids as "new" (their rows are still present and not yet
    * queued) and decrement their stats a second time, skewing
    * idf/avgdl forever.
    */
  private def guardRetractAdmission(spark: org.apache.spark.sql.SparkSession,
                                    table: String, retractId: Long): Unit = {
    val stale = unfinishedRetractions(spark, table).filterNot(_ == retractId)
    if (stale.nonEmpty)
      throw new IllegalStateException(
        s"takedown admission refused for $table: retraction batch(es) " +
          s"${stale.mkString(", ")} committed stats but never finished " +
          "(crashed between the halves) — retry them to completion " +
          s"before admitting $retractId, or shared ids would " +
          "double-decrement")
  }

  /** LEDGER ADOPTION for persisted stores that predate the
    * `_retract_done` table (it shipped after the stats commit-record
    * discipline): such a store carries stats commit records
    * (`batch_id <= -2`) for takedowns that completed long ago under
    * the ledger-less build, so [[unfinishedRetractions]] would report
    * every one of them as stranded and [[guardRetractAdmission]] would
    * refuse all new takedowns until each historical batch was
    * individually replayed. This is a DELIBERATE admin migration call,
    * not an automatic backfill: the operator asserts the store is
    * healthy (no takedown actually in flight or crashed — on a
    * ledger-era store the missing records ARE the stranded set, and
    * backfilling them would erase the exact protection the guard
    * exists for). Run once, after verifying by the old build's
    * operational record that every committed takedown finished; from
    * then on the guard operates normally. Returns the backfilled ids
    * (empty when the ledger already covers every commit record).
    */
  def adoptRetractionLedger(spark: org.apache.spark.sql.SparkSession,
                            table: String): Seq[Long] = {
    val open = unfinishedRetractions(spark, table)
    open.foreach(markRetractDone(spark, table, _))
    open
  }

  /** Append `retractId`'s completion record (idempotent — a retry that
    * finds its record leaves the ledger unchanged).
    */
  private def markRetractDone(spark: org.apache.spark.sql.SparkSession,
                              table: String, retractId: Long): Unit = {
    val done = retractDoneTable(table)
    val already = spark.catalog.tableExists(done) &&
      !spark.table(done).filter(col("batch_id") === retractId).isEmpty
    if (!already)
      spark.range(1).select(lit(retractId).as("batch_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(done)
  }

  def lexicalRetractBatch(spark: org.apache.spark.sql.SparkSession,
                          table: String, nBuckets: Int, retractId: Long)(
                          removeIds: DataFrame): Long = {
    require(retractId <= -2L,
      s"lexicalRetractBatch: retractId $retractId collides with the ingest " +
        "batch_id namespace (ingests are >= 0, the build row is -1)")
    graft.sources.Bucketed.recoverBucketedSwap(spark, table)
    guardRetractAdmission(spark, table, retractId)
    val rm = removeIds.select(col("doc_id")).distinct().localCheckpoint()
    val committed = !spark.table(s"${table}_stats")
      .filter(col("batch_id") === retractId).isEmpty
    var removedDocs = 0L
    if (!committed) {
      // tombstone-aware on MIXED use: an id already QUEUED deferred has
      // physically-present rows whose stats decrement landed with ITS
      // batch — counting them again here would double-decrement, so the
      // derivation excludes the pending set (the deferred twin's rule)
      val gone = graft.sources.Maintenance.minusTombstones(spark,
          graft.sources.Bucketed.tableLocation(spark, table),
          spark.table(table))
        .join(broadcast(rm), Seq("doc_id"), "left_semi")
      // 1-row exact decrement, derived from the store's own rows before
      // they leave (the self-describing-postings argument of the merge)
      val dec = graft.operators.Pipeline6.statsOfPostings(gone).head()
      removedDocs = dec.getLong(0)
      spark.range(1)
        .select(lit(retractId).as("batch_id"),
          lit(-dec.getLong(0)).as("n"), lit(-dec.getLong(1)).as("sdl"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(s"${table}_stats")
    }
    graft.CrashPoints.hit("lexicalRetract.stats")
    // posting half gated on the STORE's own state: still present after a
    // crash between the halves even when the stats row is committed
    val present = !spark.table(table)
      .join(broadcast(rm), Seq("doc_id"), "left_semi").isEmpty
    if (present)
      graft.sources.Bucketed.removeBucketedRows(
        spark, table, "term", nBuckets, rm, "doc_id")
    graft.CrashPoints.hit("lexicalRetract.postings")
    markRetractDone(spark, table, retractId)
    removedDocs
  }

  /** DEFERRED lexical takedown — the p139 tombstone device applied to
    * the one takedown family that still paid a full store rewrite per
    * batch ([[lexicalRetractBatch]]: a doc's posting rows scatter
    * across every term bucket, so the eager form rewrites the index;
    * TakedownProbe measured its linear term). This handler is O(batch):
    *
    *  1. heal-first, then the SAME exact stats discipline as the eager
    *     twin — derive the retracted docs' (n, sdl) from the store's
    *     own still-present rows and append the negative commit record,
    *     gated on the `_stats` table's own state. Stats decrement NOW
    *     (idf/avgdl must reflect the survivors immediately), which is
    *     safe because the rows are only QUEUED, not gone — the
    *     derivation stays possible until the applying compaction, and
    *     the commit record keeps retries from double-decrementing.
    *     Ids already pending in the zone are excluded from the
    *     derivation (their decrement landed with THEIR batch —
    *     counting their still-present rows again would double-count);
    *     ids already physically gone contribute zero rows. ORDER
    *     MATTERS exactly as in the eager twin: stats before zone, so
    *     no crash window can queue an id whose decrement never landed.
    *  2. the retracted ids land append-only in the table directory's
    *     tombstone zone ([[graft.sources.Maintenance.tombstoneAppend]]
    *     — dedup-on-append, so replay cannot grow it); every stored
    *     probe (BM25/phrase/proximity — `Pipeline6.storedPostings`)
    *     anti-joins the pending set, so withdrawn documents stop
    *     ranking IMMEDIATELY;
    *  3. the physical rewrite rides the bucketed compaction cadence
    *     ([[graft.sources.Bucketed.compactIfDueBucketed]] — its
    *     zone-count trigger fires past `maxTombstoneFiles` queued
    *     batches, and [[graft.sources.Bucketed.compactBucketed]] is
    *     tombstone-aware: the rewrite drops the queued rows and the
    *     zone retires with the old table directory), bounding the
    *     readers' broadcast anti-join tax.
    *
    * Same retractId namespace contract as the eager twin (≤ -2,
    * content-derive with [[retractIdFor]]); mutate the store ONLY
    * through these handlers (a bare tombstoneAppend would queue ids
    * whose stats never decremented). OVERLAP ORDERING: inside the
    * stats→zone crash window an id's decrement has landed while its
    * queue entry has not, so a second batch admitted there would count
    * the id as new and decrement it again — both lexical forms now
    * ENFORCE the contract on entry ([[guardRetractAdmission]] over the
    * `_retract_done` completion ledger): a different batch's takedown
    * stranded between its halves refuses the admission until its retry
    * completes; the stranded batch's own retry is always admitted.
    * Returns the number of documents whose stats decrement landed in
    * this call (0 on a retry/no-op).
    */
  def lexicalRetractDeferred(spark: org.apache.spark.sql.SparkSession,
                             table: String, nBuckets: Int, retractId: Long,
                             compactMaxFiles: Int = DefaultCompactMaxFiles,
                             maxTombstoneFiles: Int = 16)(
                             removeIds: DataFrame): Long = {
    require(retractId <= -2L,
      s"lexicalRetractDeferred: retractId $retractId collides with the " +
        "ingest batch_id namespace (ingests are >= 0, the build row is -1)")
    graft.sources.Bucketed.recoverBucketedSwap(spark, table)
    guardRetractAdmission(spark, table, retractId)
    val loc = graft.sources.Bucketed.tableLocation(spark, table)
    val rm = removeIds.select(col("doc_id")).distinct().localCheckpoint()
    // the rows this batch is actually responsible for: ids genuinely
    // NEW to the zone (already-queued ids' decrements landed with THEIR
    // batch) whose rows are physically present (already-removed ids
    // contribute nothing). ONE materialized store scan serves both
    // halves — the stats fold and the zone append must not re-plan the
    // table read (a doc_id semi-join cannot bucket-prune a
    // term-bucketed layout, so each scan is a full-index read).
    val fresh = graft.sources.Maintenance.tombstones(spark, loc) match {
      case Some(ts) => rm.join(broadcast(ts), Seq("doc_id"), "left_anti")
      case None => rm
    }
    val gone = spark.table(table)
      .join(broadcast(fresh), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val committed = !spark.table(s"${table}_stats")
      .filter(col("batch_id") === retractId).isEmpty
    var removedDocs = 0L
    if (!committed) {
      val dec = graft.operators.Pipeline6.statsOfPostings(gone).head()
      removedDocs = dec.getLong(0)
      spark.range(1)
        .select(lit(retractId).as("batch_id"),
          lit(-dec.getLong(0)).as("n"), lit(-dec.getLong(1)).as("sdl"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(s"${table}_stats")
    }
    graft.CrashPoints.hit("lexicalRetractDeferred.stats")
    // zone half: exactly the fresh-and-present ids need queuing,
    // derived from the same materialized scan — a replay AFTER the
    // applying compaction retired the zone re-derives an empty set and
    // appends nothing; a crash between the halves re-runs here with
    // the commit record short-circuiting the stats.
    graft.sources.Maintenance.tombstoneAppend(spark, loc,
      gone.select(col("doc_id")).distinct(), "doc_id")
    graft.CrashPoints.hit("lexicalRetractDeferred.zone")
    markRetractDone(spark, table, retractId)
    graft.sources.Bucketed.compactIfDueBucketed(spark, table, "term",
      nBuckets, compactMaxFiles, maxTombstoneFiles)
    removedDocs
  }

  /** Distinct xxhash64 shingle hashes of a benchmark document set —
    * the one index definition shared by [[contaminationGate]] and the
    * parity spec's batch twin. One tiny job over the eval set (the
    * model-build collect every gate deployment performs once).
    */
  def benchShingleHashes(bench: DataFrame, textCol: String = "text",
                         n: Int = 5): Seq[Long] = {
    import graft.functions.TextAnalysis.shingles
    bench.select(explode(shingles(col(textCol), n)).as("s"))
      .select(xxhash64(col("s")).as("h")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  /** Streaming perplexity scoring — the p71 quality filter applied to
    * the ingestion tail: score each incoming document's cross-entropy
    * under a BATCH-trained bigram LM ([[graft.operators.Pipeline7
    * .lmTrain]]) and flag those above `threshold`, so low-quality
    * documents are gated at ingest rather than by a later batch sweep.
    *
    * Shape: bigram extraction is the same positional map-side device
    * as batch p71; the model attaches via two stream-STATIC broadcast
    * joins (stateless — the model is a fixed batch frame, Spark plans
    * these map-side); the ONLY streaming state is the per-(window,
    * doc) aggregation, append-mode safe behind the watermark and
    * evicted when the watermark passes. Unseen bigrams/contexts smooth
    * through [[graft.operators.Pipeline7.smoothedNll]] — literally the
    * batch formula object, so the gate cannot drift from p71
    * (spec-pinned on identical documents).
    */
  def perplexityScoreStream(docs: DataFrame, model: DataFrame,
                            vocabV: Long, threshold: Double,
                            tsCol: String = "ts",
                            watermark: String = "2 hours"): DataFrame = {
    import graft.operators.Pipeline7
    val ctx = model.groupBy(col("w1")).agg(max(col("c1")).as("c1"))
    docs
      .withWatermark(tsCol, watermark)
      .select(col("doc_id"), col(tsCol).as("ts"),
        split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ts"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
                      element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("ts"), col("b.w1"), col("b.w2"))
      .join(broadcast(model.select(col("w1"), col("w2"), col("c12"))),
        Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .select(col("doc_id"), col("ts"),
        Pipeline7.smoothedNll(col("c12"), col("c1"), vocabV).as("nll"))
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("s"))
      .select(col("window.start").as("hr"), col("doc_id"),
        col("n_bigrams"), (col("s") / col("n_bigrams")).as("xent"))
      .withColumn("flagged", col("xent") > threshold)
  }
}
