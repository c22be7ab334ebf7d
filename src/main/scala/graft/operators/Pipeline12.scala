package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Pipeline operators, batch 12 (round 9): index-quality metrics and
  * the remaining cross-modal/serving compositions — the ANN recall
  * report a user tunes nProbe/codebooks against, audio containment,
  * and the phase-ordered training release manifest.
  */
object Pipeline12 {

  /** p104: the ANN RECALL@k report — overlap between the EXACT top-k
    * (p09's brute-force ranking) and each approximate path's top-k,
    * per query and summarized per method (`qid = -1` rows carry the
    * whole-batch totals). THE first table a user tuning an ANN index
    * reads: p13/p41 measure what the IVF probe fan-out loses, p49 adds
    * PQ quantization loss on top, p55 shows how much the refine stage
    * buys back. The p41 row doubles as a layout proof: the stored
    * path's recall must equal the in-memory p13's exactly.
    *
    * Engine shape: reuses the four REGISTERED ranked paths verbatim
    * (same stores, same models — the memoized index contract), so the
    * metric is composition-priced; the overlap itself is an integer
    * set-intersection join on (qid, cid) — model-sized frames
    * throughout (queries × k rows). The oracle recomputes all four
    * rankings via their own registered oracle SQL as derived tables,
    * so a drift in ANY ingredient surfaces twice: in its own entry and
    * here.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    // composition shape evaluated and kept as-is this round:
    // checkpointing the exact ranking and each method's (qid, cid)
    // output to split the union into five small executions was
    // measured 3× SLOWER at sf0.1 (min-of-5 6.2 s vs 2.0 s) — the
    // checkpoints serialize the four method pipelines into sequential
    // executions and forfeit the one-execution plan's subtree reuse,
    // and the giant-plan planning cost they were meant to cut is small
    // next to that loss. The round-16 driver's 16 s reading for this
    // entry was co-tenant load (quiet profile: 2.0 s, jobWallSum
    // 0.44 s), not plan cost.
    val exact = PipelineQueries.simTopK(s, d)
      .select(col("qid").cast("int").as("qid"), col("cid"))
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> PipelineQueries.simIvf(s, d),
      "ivf_stored" -> PipelineQueries.simIvfStored(s, d),
      "ivfpq" -> Pipeline6.ivfPqStored(s, d),
      "ivfpq_refine" -> Pipeline6.ivfPqRefined(s, d))
    val um = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("qid").cast("int").as("qid"),
        col("cid"))
    }.reduce(_ unionByName _)
    import s.implicits._
    // recall denominators are DERIVED from the exact relation's
    // per-query row counts (not hardcoded k): if the probe/top-k
    // geometry of the ingredient queries ever changes, the metric
    // rescales with it instead of silently mis-scaling — and the
    // oracle derives the same way, so the differential check guards
    // the denominator too
    val denoms = exact.groupBy(col("qid")).agg(count(lit(1)).as("denom"))
    val grid = methods.map(_._1).toDF("method")
      .crossJoin(broadcast(denoms))
    val hits = um.join(exact, Seq("qid", "cid"))
      .groupBy(col("method"), col("qid")).agg(count(lit(1)).as("n_hits"))
    val per = grid.join(hits, Seq("method", "qid"), "left")
      .select(col("method"), col("qid"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("denom"))
    val mean = per.groupBy(col("method"))
      .agg(sum(col("n_hits")).as("n_hits"), sum(col("denom")).as("denom"))
      .select(col("method"), lit(-1).as("qid"), col("n_hits"), col("denom"))
    per.unionByName(mean)
      .withColumn("recall",
        round(col("n_hits") / col("denom").cast("double"), 4))
      .select(col("method"), col("qid"), col("n_hits"), col("recall"))
      .orderBy(col("method"), col("qid"))
  }

  /** The four registered ranking oracles, composed as derived tables —
    * no logic is re-derived here; recall is pure (qid, cid) set
    * intersection over their outputs.
    */
  val annRecallOracle: String =
    s"""WITH exact AS (
       |  SELECT CAST(qid AS INTEGER) AS qid, cid
       |  FROM (${PipelineQueries.simTopKOracle}) x),
       |ivf_r AS (SELECT qid, cid FROM (${PipelineQueries.simIvfOracle}) x),
       |pq_r AS (SELECT qid, cid FROM (${Pipeline6.ivfPqStoredOracle}) x),
       |rf_r AS (SELECT qid, cid FROM (${Pipeline6.ivfPqRefinedOracle}) x),
       |um AS (
       |  SELECT 'ivf' AS method, qid, cid FROM ivf_r
       |  UNION ALL SELECT 'ivf_stored', qid, cid FROM ivf_r
       |  UNION ALL SELECT 'ivfpq', qid, cid FROM pq_r
       |  UNION ALL SELECT 'ivfpq_refine', qid, cid FROM rf_r),
       |dn AS (SELECT qid, count(*) AS denom FROM exact GROUP BY qid),
       |grid AS (
       |  SELECT m.method, q.qid, q.denom
       |  FROM (SELECT DISTINCT method FROM um) m CROSS JOIN dn q),
       |h AS (
       |  SELECT u.method, CAST(u.qid AS INTEGER) AS qid, count(*) AS n_hits
       |  FROM um u JOIN exact e ON e.qid = u.qid AND e.cid = u.cid
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT g.method, g.qid,
       |         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, g.denom
       |  FROM grid g LEFT JOIN h ON h.method = g.method AND h.qid = g.qid)
       |SELECT method, qid, n_hits,
       |       round(n_hits / CAST(denom AS DOUBLE), 4) AS recall
       |FROM per
       |UNION ALL
       |SELECT method, CAST(-1 AS INTEGER) AS qid,
       |       CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |       round(sum(n_hits) / CAST(sum(denom) AS DOUBLE), 4) AS recall
       |FROM per GROUP BY method
       |ORDER BY method, qid""".stripMargin

  /** Segment length of the registered audio-containment query: 64
    * samples (8 ms at the fixture's 8 kHz) — a multiple of 16 (equal
    * fingerprint sub-windows) that divides every fixture track length
    * (n = 256 + (id%5)·64), so the registered corpus has no dropped
    * tails and segment counts span 4–8.
    */
  private val AudioSegLen = 64

  /** p105: trim-robust AUDIO containment over the corpus — the audio
    * twin of p99 (a jingle inside a longer track), built from
    * [[Multimodal.decodeWaveSegments]]'s segment-local fingerprints
    * and [[Multimodal.audioContainment]]'s banded anchor + window
    * verify. As with p99, this corpus's instances are the equal-length
    * twins at offset 0 (ids 160 apart byte-identical, ids 80 apart
    * phase-jittered; different lengths imply different envelopes, so
    * no cross-length trims exist in the fixture) — true head/middle
    * trims are exercised by the hand-sliced-payload spec
    * (MultimodalSpec), while the oracle here is the full
    * all-pairs-all-offsets scan, proving the banded path against brute
    * force at corpus scale.
    */
  def audioContainmentQuery(s: SparkSession, d: String): DataFrame =
    Multimodal.audioContainment(
        Multimodal.decodeWaveSegments(
          Multimodal.attachWave(graft.Tables.documents(s, d)), AudioSegLen),
        maxHamming = 3)
      .orderBy(col("short_id"), col("long_id"), col("offset"))

  /** Segment-parametric mirror of Pipeline8's whole-track fingerprint
    * CTEs: same generator formula, same four-profile 60-bit fold, but
    * windows are LOCAL to each 64-sample segment (w = (t mod 64) ∕ 4)
    * and crossings reset at segment starts — the engine's
    * segment-local contract, ending in `fp(doc_id, seg, sfp)`. Shared
    * by the p105 containment and p110 stored-probe oracles.
    */
  private val segFpCtes: String = {
    val L = AudioSegLen
    s"""${Pipeline8.waveDocsCte},
       |sm AS (SELECT doc_id, t // $L AS seg, (t % $L) // ${L / 16} AS w,
       |              ${Pipeline8.waveSampleSql("t")} AS s,
       |              CASE WHEN t % $L >= 1 THEN
       |                ${Pipeline8.waveSampleSql("t - 1")} END AS sp
       |       FROM wd, unnest(range(0, (n // $L) * $L)) tt(t)),
       |en AS (SELECT doc_id, seg, w,
       |              sum(abs(s)) AS e, max(abs(s)) AS m,
       |              sum(CASE WHEN sp IS NOT NULL AND sp * s < 0
       |                       THEN 1 ELSE 0 END) AS z,
       |              sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS p
       |       FROM sm GROUP BY doc_id, seg, w),
       |fp AS (SELECT a.doc_id, a.seg,
       |              CAST(sum(
       |                (CASE WHEN b.e > a.e
       |                      THEN CAST(1 AS BIGINT) << CAST(a.w AS INT) ELSE 0 END) +
       |                (CASE WHEN b.m > a.m
       |                      THEN CAST(1 AS BIGINT) << CAST(15 + a.w AS INT) ELSE 0 END) +
       |                (CASE WHEN b.z > a.z
       |                      THEN CAST(1 AS BIGINT) << CAST(30 + a.w AS INT) ELSE 0 END) +
       |                (CASE WHEN b.p > a.p
       |                      THEN CAST(1 AS BIGINT) << CAST(45 + a.w AS INT) ELSE 0 END)
       |              ) AS BIGINT) AS sfp
       |       FROM en a JOIN en b
       |         ON a.doc_id = b.doc_id AND a.seg = b.seg AND b.w = a.w + 1
       |       GROUP BY a.doc_id, a.seg)""".stripMargin
  }

  /** The p99-style all-offsets scan over [[segFpCtes]]. */
  val audioContainmentOracle: String = {
    val L = AudioSegLen
    s"""WITH $segFpCtes,
       |segs AS (SELECT doc_id, CAST(n // $L AS INTEGER) AS nseg FROM wd),
       |cand AS (
       |  SELECT s.doc_id AS sid, s.nseg AS nfs, l.doc_id AS lid, o.off
       |  FROM segs s JOIN segs l
       |    ON l.doc_id <> s.doc_id AND l.nseg >= s.nseg,
       |  LATERAL unnest(range(0, l.nseg - s.nseg + 1)) o(off)),
       |agg AS (
       |  SELECT c.sid, c.lid, c.off, c.nfs,
       |         count(*) AS n_aligned,
       |         max(bit_count(xor(a.sfp, b.sfp))) AS mh
       |  FROM cand c
       |  JOIN fp a ON a.doc_id = c.sid
       |  JOIN fp b ON b.doc_id = c.lid AND b.seg = a.seg + c.off
       |  GROUP BY c.sid, c.lid, c.off, c.nfs)
       |SELECT sid AS short_id, lid AS long_id,
       |       CAST(off AS INTEGER) AS offset,
       |       CAST(mh AS INTEGER) AS max_hamming
       |FROM agg WHERE n_aligned = nfs AND mh <= 3
       |ORDER BY short_id, long_id, "offset"""".stripMargin
  }

  /** Geometry of the registered release plan — the same values as its
    * three registered ingredients (p103 phases of 100, p101 16-token
    * buckets × 8-doc batches over 8 batch shards, p75 64-doc seeded
    * shards under the shared release seed), so a user can line the
    * composed table up against each ingredient's own entry row by row.
    */
  private val PlanPhaseSize = 100
  private val PlanQuantum = 16
  private val PlanBatchDocs = 8
  private val PlanShardSize = 64
  private val PlanShardSeed = "graft-shard-7"

  /** p106: the PHASE-ORDERED TRAINING RELEASE plan — one row per
    * document carrying every coordinate a trainer consumes: its
    * curriculum `phase` (p103: when to train on it), its
    * `(bucket, batch_shard, batch_idx)` batching coordinates (p101:
    * which padded batch it rides in), and its `store_shard` (p75:
    * which seeded shard file holds it). Pure composition of three
    * green devices joined on doc_id; the three rank structures are
    * INDEPENDENT by design — curriculum orders by difficulty, batching
    * by length, storage by seeded hash — which is exactly what a
    * curriculum trainer wants (each phase still reads hash-mixed
    * shards and length-tight batches).
    *
    * Scale shape: three TwoLevel/sharded-window devices (no
    * single-partition sort anywhere — each ingredient's own
    * contract) + two doc-keyed joins. Sort-free library entry:
    * [[releasePlanOf]].
    */
  def releasePlan(s: SparkSession, d: String): DataFrame =
    releasePlanOf(graft.Tables.documents(s, d), PlanPhaseSize, PlanQuantum,
        PlanBatchDocs, PlanShardSize, PlanShardSeed)
      .orderBy(col("doc_id"))

  def releasePlanOf(docs: DataFrame, phaseSize: Int, quantum: Int,
                    batchDocs: Int, shardSize: Int, seed: String): DataFrame = {
    val phases = Pipeline11.curriculumPhasesOf(docs, phaseSize)
      .select(col("doc_id"), col("phase"))
    val batches = Pipeline10.lengthBatchingOf(docs, quantum, batchDocs)
      .withColumnRenamed("shard", "batch_shard")
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        col("batch_shard"), col("batch_idx"))
    val shards = Pipeline8.seededShards(docs, "doc_id", shardSize, seed)
      .select(col("doc_id"), col("shard").as("store_shard"))
    phases.join(batches, Seq("doc_id")).join(shards, Seq("doc_id"))
      .select(col("doc_id"), col("phase"), col("n_tokens"), col("bucket"),
        col("batch_shard"), col("batch_idx"), col("store_shard"))
  }

  /** APPEND form of the release plan — the p81 discipline applied to
    * the whole composition: `base` documents keep EXACTLY the
    * coordinates [[releasePlanOf]] assigned them (a daily ingest must
    * not rewrite yesterday's phases, batches or shards), while `inc`
    * documents rank only among themselves and extend each structure's
    * tail — curriculum phases continue after the base's last rank,
    * batch indices continue within each (bucket, batch_shard) group,
    * store shards fill from the base's last position. The documented
    * stability/mixing trade-off: appended docs mix only among
    * themselves; re-run the full plan when a remix is worth a
    * republish. Batch9Spec pins the frozen-base property.
    */
  def releasePlanAppendOf(base: DataFrame, inc: DataFrame, phaseSize: Int,
                          quantum: Int, batchDocs: Int, shardSize: Int,
                          seed: String): DataFrame = {
    val nb = base.agg(count(lit(1)).as("__nb"))
    // curriculum: inc ranks continue after the base's nb-th rank
    val phB = Pipeline11.curriculumPhasesOf(base, phaseSize)
      .select(col("doc_id"), col("phase"))
    val phI = Pipeline11.curriculumPhasesOf(inc, phaseSize)
      .crossJoin(broadcast(nb))
      .select(col("doc_id"),
        expr(s"CAST((rank + __nb - 1) DIV $phaseSize AS INT)").as("phase"))
    // batching: inc rows rank within (bucket, batch_shard) after the
    // base group's count — group tallies are bounded (buckets × 8) and
    // broadcast
    val btB = Pipeline10.lengthBatchingOf(base, quantum, batchDocs)
      .withColumnRenamed("shard", "batch_shard")
    val groupCounts = btB.groupBy(col("bucket"), col("batch_shard"))
      .agg(count(lit(1)).as("__ng"))
    val btI = Pipeline10.lengthBatchingOf(inc, quantum, batchDocs)
      .withColumnRenamed("shard", "batch_shard")
      .withColumn("__rn",
        expr("(batch_idx * " + batchDocs + ") + " +
          s"(row_number() OVER (PARTITION BY bucket, batch_shard, batch_idx " +
          "ORDER BY n_tokens DESC, doc_id) - 1)"))
      .join(broadcast(groupCounts), Seq("bucket", "batch_shard"), "left")
      .withColumn("batch_idx",
        expr(s"CAST((__rn + coalesce(__ng, 0)) DIV $batchDocs AS INT)"))
    val batchCols = Seq("doc_id", "n_tokens", "bucket", "batch_shard",
      "batch_idx").map(col)
    // storage: the p81 seeded-rank offset
    val shB = Pipeline8.seededShards(base, "doc_id", shardSize, seed)
      .select(col("doc_id"), col("shard").as("store_shard"))
    val shI = Pipeline8.seededShards(inc, "doc_id", shardSize, seed)
      .crossJoin(broadcast(nb))
      .select(col("doc_id"),
        expr(s"CAST((__rn + __nb - 1) DIV $shardSize AS INT)")
          .as("store_shard"))
    val planB = phB.join(btB.select(batchCols: _*), Seq("doc_id"))
      .join(shB, Seq("doc_id"))
    val planI = phI.join(btI.select(batchCols: _*), Seq("doc_id"))
      .join(shI, Seq("doc_id"))
    planB.unionByName(planI)
      .select(col("doc_id"), col("phase"), col("n_tokens"), col("bucket"),
        col("batch_shard"), col("batch_idx"), col("store_shard"))
  }

  val releasePlanOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |diff AS (
       |  SELECT doc_id,
       |         CAST(1000000 * count(DISTINCT term) // count(*) AS BIGINT)
       |           AS diversity_q
       |  FROM toks GROUP BY doc_id),
       |ph AS (
       |  SELECT doc_id,
       |         CAST((row_number() OVER (ORDER BY diversity_q DESC, doc_id)
       |               - 1) // $PlanPhaseSize AS INTEGER) AS phase
       |  FROM diff),
       |tk AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |bi AS (
       |  SELECT doc_id, n_tokens, bucket, batch_shard,
       |         CAST((row_number() OVER (PARTITION BY bucket, batch_shard
       |                ORDER BY n_tokens DESC, doc_id) - 1) // $PlanBatchDocs
       |              AS INTEGER) AS batch_idx
       |  FROM (SELECT doc_id, n_tokens,
       |               ((n_tokens + ${PlanQuantum - 1}) // $PlanQuantum)
       |                 * $PlanQuantum AS bucket,
       |               CAST(doc_id % 8 AS INTEGER) AS batch_shard
       |        FROM tk)),
       |sh AS (
       |  SELECT doc_id,
       |         CAST((row_number() OVER (
       |                ORDER BY md5('$PlanShardSeed:' || doc_id), doc_id)
       |               - 1) // $PlanShardSize AS INTEGER) AS store_shard
       |  FROM documents)
       |SELECT d.doc_id, ph.phase, bi.n_tokens, bi.bucket, bi.batch_shard,
       |       bi.batch_idx, sh.store_shard
       |FROM documents d
       |JOIN ph USING (doc_id) JOIN bi USING (doc_id) JOIN sh USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** p110: the STORED audio probe — "which tracks contain this
    * snippet's opening segment", answered from an at-rest banded
    * signature store instead of a fresh decode. The store device is
    * [[Multimodal.frameStoreWrite]] VERBATIM: the audio segment table
    * is isomorphic to the video frame table under (seg → frame,
    * sfp → fhash) — both are (doc, position, 60-bit signature) — so
    * one banded store layout, one compactor
    * ([[Multimodal.frameStoreCompact]]) and one stored-probe plan
    * (partition pruning on `band_i`, pushed `band_v IN` row-group
    * filter, query fingerprints as plan literals) serve both
    * modalities. The oracle is the full decode-and-scan, proving the
    * layout semantics-preserving, exactly as p100 does for video.
    */
  def audioProbeStored(s: SparkSession, d: String): DataFrame = {
    // store memoized per JVM under the shared IndexStores contract
    val store = IndexStores.of("audio_store", d) { p =>
      Multimodal.frameStoreWrite(
        Multimodal.decodeWaveSegments(
            Multimodal.attachWave(graft.Tables.documents(s, d)), AudioSegLen)
          .select(col("doc_id"), col("seg").as("frame"),
            col("sfp").as("fhash")), p)
    }
    // query side decodes ONLY the 5 probe docs (filter BEFORE the
    // decode boundary — a filter on the mapPartitions OUTPUT cannot be
    // pushed through it, and would re-decode the whole corpus per
    // probe; the p100 precedent)
    val qs = Multimodal.decodeWaveSegments(
        Multimodal.attachWave(
          graft.Tables.documents(s, d).filter(col("doc_id") < 5)),
        AudioSegLen)
      .filter(col("seg") === 0)
      .select(col("doc_id"), col("sfp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    Multimodal.audioProbeStored(s, store, qs, maxHamming = 3)
      .orderBy(col("qid"), col("doc_id"), col("seg"))
  }

  val audioProbeStoredOracle: String =
    s"""WITH $segFpCtes,
       |q AS (SELECT doc_id AS qid, sfp AS qh FROM fp
       |      WHERE doc_id < 5 AND seg = 0)
       |SELECT qid, f.doc_id, CAST(f.seg AS INTEGER) AS seg,
       |       CAST(bit_count(xor(qh, f.sfp)) AS INTEGER) AS hamming
       |FROM q JOIN fp f ON bit_count(xor(qh, f.sfp)) <= 3
       |ORDER BY qid, f.doc_id, f.seg""".stripMargin

  /** Shared geometry of the registered dedup-quality metrics below —
    * the p03/p04 fixture shapes (word 5-grams, 16 MinHash functions in
    * 4 bands), so the report's rows line up with those entries.
    */
  private val QualShingleN = PipelineQueries.ShingleN
  private val QualHashes = 16
  private val QualBands = 4
  private val QualThresholds = Seq(0.2, 0.3, 0.5, 0.8)

  /** p108: the LSH BANDING QUALITY report — the dedup-family twin of
    * p104's ANN recall. For each Jaccard threshold t: how many true
    * near-dup pairs exist (exact n-gram Jaccard ≥ t, p03's relation at
    * threshold 0), how many of them the MinHash-LSH candidate stage
    * (p04's relation) surfaces (`recall`), and what fraction of the
    * candidate budget lands on ≥-t pairs (`precision` — the verify
    * stage's hit rate). THE table a user tuning bands×rows reads: the
    * S-curve (recall falling as t drops below the banding's implicit
    * threshold) is the banding working as designed, not a bug.
    *
    * Engine shape: both ingredient relations are the REGISTERED p03/
    * p04 pipelines verbatim (one inverted-index pass + one banded
    * pass); the threshold sweep is a 4-row broadcast theta-join
    * streamed over the pair relation — no extra shuffle. Like
    * `tools/RecallAudit`, a corpus-scale user runs this on a sample:
    * the threshold-0 truth relation is every co-shingle pair, which is
    * exactly as sparse (and exactly as boilerplate-hazardous — same
    * `maxDf` remedy) as p03 itself.
    */
  def lshQuality(s: SparkSession, d: String): DataFrame =
    lshQualityOf(graft.Tables.documents(s, d), QualThresholds,
      QualShingleN, QualHashes, QualBands)

  def lshQualityOf(docs: DataFrame, thresholds: Seq[Double], n: Int,
                   numHashes: Int, bands: Int): DataFrame = {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n, 0.0)
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text", n,
      numHashes, bands)
      // feeds both the hit flags and the n_cand scalar: one execution
      .localCheckpoint(eager = false)
    val flagged = truth
      .join(cand.withColumn("__hit", lit(1)), Seq("d1", "d2"), "left")
      .select(col("jaccard"),
        coalesce(col("__hit"), lit(0)).as("hit"))
    val th = docs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    val ag = flagged
      .join(broadcast(th), col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("n_hits"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    th.join(ag, Seq("threshold"), "left")
      .crossJoin(broadcast(nCand))
      .select(col("threshold"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        col("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          round(col("n_hits") / col("n_truth"), 4)).as("recall"),
        when(col("n_cand") > 0,
          round(col("n_hits") / col("n_cand"), 4)).as("precision"))
      .orderBy(col("threshold"))
  }

  /** p03's truth relation at threshold 0 (every co-shingle pair with
    * its rounded Jaccard), composed over [[PipelineQueries.lshPairCtes]]'s
    * embedded shingle CTE — shared by the p108/p109 oracles.
    */
  private val jaccardTruthCtes: String =
    """shh AS (SELECT doc_id,
      |               CAST('0x' || substr(md5(ngram), 1, 15) AS BIGINT) AS ng
      |        FROM sh),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |  FROM shh a JOIN shh b ON a.ng = b.ng AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |tj AS (
      |  SELECT d1, d2,
      |         round(CAST(c AS DOUBLE)/(s1.n_sh + s2.n_sh - c), 4) AS jaccard
      |  FROM inter
      |  JOIN sz s1 ON s1.doc_id = d1
      |  JOIN sz s2 ON s2.doc_id = d2)""".stripMargin

  val lshQualityOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes},
       |$jaccardTruthCtes,
       |fl AS (
       |  SELECT t.jaccard,
       |         CASE WHEN p.d1 IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM tj t LEFT JOIN prs p ON p.d1 = t.d1 AND p.d2 = t.d2),
       |th AS (SELECT CAST(unnest([${QualThresholds.mkString(", ")}]) AS DOUBLE)
       |              AS threshold),
       |ag AS (
       |  SELECT th.threshold, count(fl.jaccard) AS n_truth,
       |         sum(fl.hit) AS n_hits
       |  FROM th JOIN fl ON fl.jaccard >= th.threshold
       |  GROUP BY 1),
       |cd AS (SELECT count(*) AS n_cand FROM prs)
       |SELECT th.threshold,
       |       CAST(coalesce(ag.n_truth, 0) AS BIGINT) AS n_truth,
       |       CAST(cd.n_cand AS BIGINT) AS n_cand,
       |       CAST(coalesce(ag.n_hits, 0) AS BIGINT) AS n_hits,
       |       CASE WHEN coalesce(ag.n_truth, 0) > 0
       |            THEN round(coalesce(ag.n_hits, 0) / ag.n_truth, 4) END
       |         AS recall,
       |       CASE WHEN cd.n_cand > 0
       |            THEN round(coalesce(ag.n_hits, 0) / cd.n_cand, 4) END
       |         AS precision
       |FROM th LEFT JOIN ag ON ag.threshold = th.threshold CROSS JOIN cd
       |ORDER BY th.threshold""".stripMargin

  /** p111: the STORED text near-dup probe — "which published documents
    * look like this one", answered from an at-rest MinHash band-
    * signature store ([[Dedup.lshStoreWrite]]: partitioned by band,
    * sig_h-sorted for row-group skipping) instead of re-running the
    * p04 self-join over the corpus. THE text twin of the p110 audio /
    * p100 video stored probes, and the missing third of the
    * published-corpus gate family: an incremental dedup deployment
    * probes arriving documents against everything already published
    * (see `StreamingOps.textDedupGateBatch`), which a within-stream
    * watermark gate cannot do. Same oracle ingredients as p04 (band
    * signatures via the registered CTE chain), restricted to the query
    * docs — the layout must be semantics-preserving.
    */
  /** The memoized p111 LSH signature store — shared by the stored
    * probe and the verified gate (p117), under the IndexStores
    * contract.
    */
  private def lshStoreFor(s: SparkSession, d: String): String =
    IndexStores.of("lsh_store", d) { p =>
      Dedup.lshStoreWrite(
        Dedup.lshSignatureRows(graft.Tables.documents(s, d), "doc_id",
          "text", QualShingleN, QualHashes, QualBands), p)
    }

  def lshProbeStoredQuery(s: SparkSession, d: String): DataFrame = {
    val docs = () => graft.Tables.documents(s, d)
    val store = lshStoreFor(s, d)
    val qs = Dedup.lshSignatureRows(docs().filter(col("doc_id") < 5),
        "doc_id", "text", QualShingleN, QualHashes, QualBands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(q => (q._1, q._2))
    Dedup.lshProbeStored(s, store, qs)
      .orderBy(col("qid"), col("doc_id"))
  }

  val lshProbeStoredOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes},
       |q AS (SELECT doc_id AS qid, band, sig FROM bd WHERE doc_id < 5)
       |SELECT DISTINCT q.qid, b.doc_id
       |FROM q JOIN bd b ON b.band = q.band AND b.sig = q.sig
       |ORDER BY qid, doc_id""".stripMargin

  /** Verify threshold and query window of the registered verified
    * gate. τ = 0.9 BINDS on this corpus: the near-dup family's exact
    * Jaccards span 0.875–1.0 (p03's relation), so at least one LSH
    * candidate pair (26, 455 at 0.875 at sf0.01) is surfaced by the
    * probe and then REJECTED by the verify — the stage is
    * differentially checked doing work, not rubber-stamping. The
    * 100-doc query window (vs p111's 5) pulls a dozen true near-dup
    * qids into the batch; 400 signature literals, well inside the
    * probe-literal bound.
    */
  private val VerifyTau = 0.9
  private val VerifyWindow = 100

  /** p117: the VERIFIED stored text gate — the missing verify stage of
    * the p111 probe, closed WITHOUT rescanning the corpus: probe the
    * LSH store for candidates, join them against the at-rest shingle
    * SIDECAR ([[Dedup.shingleStoreWrite]]: the per-doc shingle-hash
    * sets, doc_id-bucketed beside the signature store), keep pairs at
    * exact Jaccard ≥ τ. Until this entry, verification needed the
    * stored documents' shingles and therefore a corpus rescan —
    * defeating the incremental deployment the store exists for.
    * Streaming twin: `StreamingOps.textDedupVerifiedGateBatch`.
    *
    * The oracle re-derives candidates (the registered p04 banding
    * CTEs) AND the exact Jaccard on raw shingle strings — hash-free,
    * so the engine's xxhash64 set keys are differentially checked
    * against true string-set cardinalities (the p03 contract).
    */
  def lshVerifiedStored(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val store = lshStoreFor(s, d)
    val sidecar = IndexStores.of("shingle_sidecar", d) { p =>
      Dedup.shingleStoreWrite(
        Dedup.shingleSidecarRows(docs, "doc_id", "text", QualShingleN), p)
    }
    val queries = docs.filter(col("doc_id") < VerifyWindow)
    val qs = Dedup.lshSignatureRows(queries, "doc_id", "text",
        QualShingleN, QualHashes, QualBands)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSeq.sortBy(q => (q._1, q._2))
    val cands = Dedup.lshProbeStored(s, store, qs)
    val qsh = Dedup.shingleSidecarRows(queries, "doc_id", "text",
        QualShingleN)
      .select(col("doc_id").as("qid"), col("sh"))
    Dedup.lshVerifyStored(s, sidecar, cands, qsh, VerifyTau)
      .orderBy(col("qid"), col("doc_id"))
  }

  val lshVerifiedStoredOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes},
       |q AS (SELECT doc_id AS qid, band, sig FROM bd
       |      WHERE doc_id < $VerifyWindow),
       |cand AS (
       |  SELECT DISTINCT q.qid, b.doc_id
       |  FROM q JOIN bd b ON b.band = q.band AND b.sig = q.sig),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.qid, c.doc_id, count(*) AS cnum
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.qid
       |  JOIN sh b ON b.doc_id = c.doc_id AND b.ngram = a.ngram
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT i.qid, i.doc_id,
       |         CAST(i.cnum AS DOUBLE) / (sq.n_sh + sd.n_sh - i.cnum)
       |           AS jac
       |  FROM inter i
       |  JOIN sz sq ON sq.doc_id = i.qid
       |  JOIN sz sd ON sd.doc_id = i.doc_id)
       |SELECT qid, doc_id, round(jac, 4) AS jaccard
       |FROM j WHERE jac >= $VerifyTau
       |ORDER BY qid, doc_id""".stripMargin

  /** p109: the MINHASH ESTIMATOR error report — for every LSH
    * candidate pair (p04's relation), the signature-agreement estimate
    * of Jaccard (`n_agree`/16) against the exact value (p03's), plus a
    * summary row (`d1 = d2 = -1`) carrying the mean error. p108 grades
    * the CANDIDATE stage (which pairs surface); this grades the
    * SKETCH itself (how well 16 minhashes estimate similarity on the
    * surfaced pairs) — together they are the two dials of a banded
    * dedup: more hashes tighten this table, more bands shift p108's
    * S-curve.
    *
    * Error is carried in exact integer micro-units (`err_um` =
    * round(|est − jaccard|·10⁴)): double sums are order-sensitive and
    * a distributed mean over them would be nondeterministic across
    * partitionings — the integer fold is exact in any order (same
    * device as p102's integer weights). The per-pair doubles
    * (`est_jaccard`, `jaccard`) are deterministic: /16 is a power-of-2
    * division and `jaccard` is p03's rounded output.
    */
  def minhashEstimate(s: SparkSession, d: String): DataFrame =
    minhashEstimateOf(graft.Tables.documents(s, d), QualShingleN,
      QualHashes, QualBands)

  def minhashEstimateOf(docs: DataFrame, n: Int, numHashes: Int,
                        bands: Int): DataFrame = {
    val sig = Dedup.minhash(docs, "doc_id", "text", n, numHashes)
    val mhArr = array((0 until numHashes).map(i => col(s"mh$i")): _*)
    val a = sig.select(col("doc_id").as("d1"), mhArr.as("sa"))
    val b = sig.select(col("doc_id").as("d2"), mhArr.as("sb"))
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text", n,
      numHashes, bands)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n, 0.0)
    // A band collision means an identical (shared-shingle) argmin, so
    // every candidate pair intersects and the truth join is inner.
    val per = cand.join(a, Seq("d1")).join(b, Seq("d2"))
      .withColumn("n_agree",
        aggregate(zip_with(col("sa"), col("sb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v))
      .join(truth, Seq("d1", "d2"))
      .select(col("d1"), col("d2"), col("n_agree"),
        (col("n_agree").cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"),
        col("jaccard"))
      .withColumn("err_um",
        round(abs(col("est_jaccard") - col("jaccard")) * lit(10000.0))
          .cast("long"))
      // feeds both the per-pair output and the mean row: materialize
      // the (candidate-sparse) table once instead of replaying the
      // minhash+jaccard pipeline per consumer
      .localCheckpoint(eager = false)
    val mean = per.agg(sum(col("err_um")).as("s"), count(lit(1)).as("nn"))
      .select(lit(-1L).as("d1"), lit(-1L).as("d2"),
        lit(-1).as("n_agree"),
        lit(null).cast("double").as("est_jaccard"),
        lit(null).cast("double").as("jaccard"),
        round(col("s").cast("double") / col("nn")).cast("long").as("err_um"))
    per.unionByName(mean).orderBy(col("d1"), col("d2"))
  }

  val minhashEstimateOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes},
       |$jaccardTruthCtes,
       |agr AS (
       |  SELECT p.d1, p.d2,
       |         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
       |              AS INTEGER) AS n_agree
       |  FROM prs p
       |  JOIN hx a ON a.doc_id = p.d1
       |  JOIN hx b ON b.doc_id = p.d2 AND b.seed = a.seed
       |  GROUP BY 1, 2),
       |per AS (
       |  SELECT g.d1, g.d2, g.n_agree,
       |         CAST(g.n_agree AS DOUBLE) / CAST($QualHashes AS DOUBLE)
       |           AS est_jaccard,
       |         t.jaccard,
       |         CAST(round(abs(CAST(g.n_agree AS DOUBLE)
       |                        / CAST($QualHashes AS DOUBLE) - t.jaccard)
       |                    * 10000.0) AS BIGINT) AS err_um
       |  FROM agr g JOIN tj t ON t.d1 = g.d1 AND t.d2 = g.d2)
       |SELECT d1, d2, n_agree, est_jaccard, jaccard, err_um FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |       CAST(-1 AS INTEGER), CAST(NULL AS DOUBLE),
       |       CAST(NULL AS DOUBLE),
       |       CAST(round(CAST(sum(err_um) AS DOUBLE) / count(*)) AS BIGINT)
       |FROM per
       |ORDER BY d1, d2""".stripMargin

  /** Cell count of the registered embedding-drift report — the p13/p41
    * IVF geometry (seed centroids = vec_id < 8), so the report's cells
    * ARE the index's cells.
    */
  private val DriftCells = 8

  /** p112: the EMBEDDING drift report — p82's ingestion monitor
    * extended to the vector modality: base vs increment per-IVF-cell
    * assignment rates in exact integer parts-per-million, every cell a
    * row, ranked by squared rate difference. THE gate that catches an
    * embedding feed going bad (model-version switch, normalization
    * bug, modality mix-up) BEFORE the increment is admitted to the
    * vector index — a topical/representational shift moves mass
    * between cells even when token-level p82 sees nothing.
    *
    * Scale shape: assignment is the shared map-only broadcast-argmax
    * definition from p13/p41 ([[Similarity.assignCells]] — the
    * report's cells ARE the index's cells); each side folds to ≤nCells
    * rows (map-side partial agg), totals ride as broadcast 1-row
    * frames, the compare runs on 2·nCells rows. All integer, so the
    * ranking is bit-identical across engines and partitionings. The
    * registered split (vec_id mod 5) stands in for yesterday's corpus
    * vs today's batch; streaming twin:
    * `StreamingOps.embeddingDriftGateBatch`.
    */
  def embeddingDrift(s: SparkSession, d: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, DriftCells)
    embeddingDriftOf(emb.filter(col("vec_id") % 5 =!= 0),
      emb.filter(col("vec_id") % 5 === 0), cents)
  }

  /** Per-cell assignment rates of an embedding frame in exact integer
    * ppm under a FROZEN centroid model — the bounded "distribution
    * signature" shared by the batch report and the streaming gate.
    */
  private[graft] def cellRates(df: DataFrame,
                               cents: Array[(Int, Seq[Float])],
                               cnt: String, rate: String): DataFrame = {
    val cells = Similarity.assignCells(cents, df).select(col("cell"))
    val total = cells.agg(count(lit(1)).as("t"))
    cells.groupBy(col("cell")).agg(count(lit(1)).as(cnt))
      .crossJoin(broadcast(total))
      .select(col("cell"), col(cnt),
        expr(s"CAST($cnt * 1000000 DIV t AS BIGINT)").as(rate))
  }

  /** Library entry: drift report between any two embedding frames
    * under a frozen centroid model. Full-outer so a vanished cell is
    * named; both sides are nCells-bounded.
    */
  def embeddingDriftOf(base: DataFrame, inc: DataFrame,
                       cents: Array[(Int, Seq[Float])]): DataFrame =
    cellRates(base, cents, "cb", "rb")
      .join(cellRates(inc, cents, "ci", "ri"), Seq("cell"), "full_outer")
      .select(col("cell").cast("int").as("cell"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("ci"), lit(0L)).as("ci"),
        coalesce(col("rb"), lit(0L)).as("rb"),
        coalesce(col("ri"), lit(0L)).as("ri"))
      .withColumn("drift",
        (col("ri") - col("rb")) * (col("ri") - col("rb")))
      .orderBy(col("drift").desc, col("cell"))

  val embeddingDriftOracle: String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings
       |  WHERE vec_id < $DriftCells),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |ab AS (SELECT cell FROM assign WHERE vec_id % 5 <> 0),
       |ai AS (SELECT cell FROM assign WHERE vec_id % 5 = 0),
       |cb AS (SELECT cell, count(*) AS cb,
       |              CAST(count(*) * 1000000 // (SELECT count(*) FROM ab)
       |                   AS BIGINT) AS rb
       |       FROM ab GROUP BY cell),
       |ci AS (SELECT cell, count(*) AS ci,
       |              CAST(count(*) * 1000000 // (SELECT count(*) FROM ai)
       |                   AS BIGINT) AS ri
       |       FROM ai GROUP BY cell),
       |j AS (SELECT CAST(cell AS INTEGER) AS cell,
       |             CAST(coalesce(cb, 0) AS BIGINT) AS cb,
       |             CAST(coalesce(ci, 0) AS BIGINT) AS ci,
       |             coalesce(rb, 0) AS rb, coalesce(ri, 0) AS ri
       |      FROM cb FULL OUTER JOIN ci USING (cell))
       |SELECT cell, cb, ci, rb, ri,
       |       CAST((ri - rb) * (ri - rb) AS BIGINT) AS drift
       |FROM j ORDER BY drift DESC, cell""".stripMargin
  }

  /** Cosine threshold of the registered stored probe — a demo value
    * chosen to BIND for p41's 5-query probe batch (p73's own 0.4
    * yields zero rows there: the synthetic embeddings are near-random
    * and the batch's max stored cosine is ≈0.39 at sf0.01 / ≈0.42 at
    * sf0.1; 0.3 keeps 18–65 pairs across SFs, with the nearest pair
    * >1e-3 from the boundary — no float/double flip risk). Production
    * near-dup corpora run τ≈0.95+.
    */
  private val StoredSemTau = 0.3

  /** p115: the STORED embedding near-dup probe — the VECTOR member of
    * the published-corpus probe family, completing the fourth modality
    * (text p111, video p100, audio p110): "which published vectors sit
    * within cosine τ of this arriving one", answered from the p41
    * at-rest IVF cell layout ([[Similarity.ivfProbeNearDup]] — same
    * store, same seed-centroid model, same nProbe = 2 geometry as
    * p41/p13, so the layout proof composes). Candidates are the probed
    * cells' members (the IVF recall trade p104 measures — nProbe = 1
    * is exactly p73's own-cell witness relation); each pays one exact
    * cosine. Streaming twin: `StreamingOps.embeddingDedupGateBatch`.
    *
    * The oracle re-derives assignment + probe fan-out + threshold from
    * first principles (the p13 CTE device) restricted to the query
    * rows — the store layout must be semantics-preserving.
    */
  def semDedupStored(s: SparkSession, d: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    Similarity.ivfProbeNearDup(s, PipelineQueries.ivfStorePath(s, d),
        emb.filter(col("vec_id") < 5), cents, StoredSemTau, nProbe = 2)
      .orderBy(col("qid"), col("cid"))
  }

  val semDedupStoredOracle: String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    val cos = PipelineQueries.duckCos("p.qe", "a.ce2")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings
       |  WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid, embedding AS ce2, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qe, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5)
       |  WHERE rn <= 2)
       |SELECT p.qid, a.cid, round($cos, 4) AS cos
       |FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid
       |WHERE $cos >= $StoredSemTau
       |ORDER BY qid, cid""".stripMargin
  }

  /** nProbe sweep of the registered tuning curve — the p13/p41 8-cell
    * geometry from its minimum to a full scan (8 of 8 cells = exact
    * brute force, so the curve's last row must read recall 1.0).
    */
  private val TuneProbes = Seq(1, 2, 4, 8)

  /** p116: the ANN TUNING CURVE — p104's recall metric swept across
    * nProbe operating points, each paired with its probed-read cost:
    * one row per (method, nprobe) carrying recall@k against the exact
    * ranking AND `read_ppm`, the fraction (exact integer ppm) of
    * corpus rows the probe fan-out reads at that operating point. THE
    * table a user sets nProbe from (the p108-S-curve discipline
    * applied to the IVF dial): recall climbs with nprobe while
    * read_ppm climbs toward 10⁶, and the knee is the setting.
    *
    * Engine shape: ONE corpus-side candidate pass serves every
    * operating point — the nProbe = k fan-out is exactly the
    * `prank <= k` prefix of one ranked 8-cell fan-out
    * ([[Similarity.probeCellsRanked]]), so candidates are scored once,
    * a 4-row broadcast grid replays them per operating point, and the
    * rank window runs per (nprobe, qid). Read accounting never touches
    * the corpus: per-cell sizes are a model-sized aggregate joined to
    * the query-batch-sized fan-out. Recall denominators are derived
    * from the exact relation (the p104 discipline).
    */
  def annTuning(s: SparkSession, d: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    tuningCurveOver(s, Similarity.assignCells(cents, emb), cents,
      emb.filter(col("vec_id") < 5),
      PipelineQueries.simTopK(s, d).select(col("qid"), col("cid")), "ivf")
  }

  /** The p116 curve tail over ANY assigned frame `(vec_id, embedding,
    * cell)` under its centroid model — split out so the stored
    * seed-vs-trained comparison (p124) replays the identical
    * accounting per method: one corpus-side candidate pass, a 4-row
    * broadcast grid, model-sized reads/sizes, exact-relation recall
    * denominators. `assigned0` may be the map-only in-memory
    * assignment (p116) or an at-rest [[Similarity.ivfWrite]] store
    * scan (p124 — the layout is semantics-preserving, the p41 proof).
    */
  private[operators] def tuningCurveOver(s: SparkSession,
                                         assigned0: DataFrame,
                                         cents: Array[(Int, Seq[Float])],
                                         queries: DataFrame, exact: DataFrame,
                                         method: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = Similarity.probeCellsRanked(cents, queries, 8)
    // assignment is shared by the candidate join, the size model and
    // the corpus total: one map-only pass, materialized lazily
    val assigned = assigned0
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint(eager = false)
    val cand = assigned
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("prank"), col("cid"),
        graft.functions.VectorOps.cosine(col("qe"), col("ce")).as("cos"))
      .localCheckpoint(eager = false) // feeds all four operating points
    val np = s.range(1)
      .select(explode(typedLit(TuneProbes)).as("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val hits = cand.join(broadcast(np), col("prank") <= col("nprobe"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .join(exact, Seq("qid", "cid"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val denom = exact.agg(count(lit(1)).as("denom"))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("csz"))
    val reads = probes.select(col("prank"), col("cell"))
      .join(broadcast(np), col("prank") <= col("nprobe"))
      .join(broadcast(sizes), Seq("cell"))
      .groupBy(col("nprobe")).agg(sum(col("csz")).as("rows_read"))
    val totals = assigned.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(queries.agg(count(lit(1)).as("nq"))))
    np.join(hits, Seq("nprobe"), "left")
      .join(reads, Seq("nprobe"), "left")
      .crossJoin(broadcast(denom)).crossJoin(broadcast(totals))
      .select(lit(method).as("method"), col("nprobe"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)) /
          col("denom").cast("double"), 4).as("recall"),
        coalesce(col("rows_read"), lit(0L)).as("rows_read"),
        expr("CAST(coalesce(rows_read, 0) * 1000000 DIV (nq * n) AS BIGINT)")
          .as("read_ppm"))
      .orderBy(col("method"), col("nprobe"))
  }

  val annTuningOracle: String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    val cos = PipelineQueries.duckCos("p.qe", "a.ce2")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings
       |  WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid, embedding AS ce2, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, qe, rn AS prank, cell FROM (
       |    SELECT e.vec_id AS qid, e.embedding AS qe, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5)
       |  WHERE rn <= 8),
       |np AS (SELECT CAST(unnest([${TuneProbes.mkString(", ")}])
       |              AS INTEGER) AS nprobe),
       |cand AS (
       |  SELECT p.qid, p.prank, a.cid, $cos AS cos
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid),
       |exact AS (SELECT qid, cid FROM (${PipelineQueries.simTopKOracle}) x),
       |ranked AS (
       |  SELECT np.nprobe, c.qid, c.cid,
       |         row_number() OVER (PARTITION BY np.nprobe, c.qid
       |              ORDER BY c.cos DESC, c.cid) AS rnk
       |  FROM np JOIN cand c ON c.prank <= np.nprobe),
       |hits AS (
       |  SELECT nprobe, count(*) AS n_hits
       |  FROM ranked r JOIN exact e ON e.qid = r.qid AND e.cid = r.cid
       |  WHERE r.rnk <= 10 GROUP BY 1),
       |dn AS (SELECT count(*) AS denom FROM exact),
       |sizes AS (SELECT cell, count(*) AS csz FROM assign GROUP BY cell),
       |reads AS (
       |  SELECT np.nprobe, sum(s.csz) AS rows_read
       |  FROM np JOIN probes p ON p.prank <= np.nprobe
       |  JOIN sizes s ON s.cell = p.cell GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM embeddings) AS n,
       |               (SELECT count(*) FROM embeddings WHERE vec_id < 5)
       |                 AS nq)
       |SELECT 'ivf' AS method, np.nprobe,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.n_hits, 0) / CAST(dn.denom AS DOUBLE), 4)
       |         AS recall,
       |       CAST(coalesce(r.rows_read, 0) AS BIGINT) AS rows_read,
       |       CAST(coalesce(r.rows_read, 0) * 1000000 // (tot.nq * tot.n)
       |            AS BIGINT) AS read_ppm
       |FROM np LEFT JOIN hits h USING (nprobe)
       |LEFT JOIN reads r USING (nprobe)
       |CROSS JOIN dn CROSS JOIN tot
       |ORDER BY method, nprobe""".stripMargin
  }

  /** p113: the per-source RELEASE CARD — the one table a data lead
    * reads before shipping a corpus: p86's quality scorecard columns
    * joined with the near-dup exposure (p76's LSH pair matrix split
    * into within-source pairs and cross-source pair incidence) and the
    * benchmark-contamination count (p94's verdicts rolled up by
    * source). Pure composition of three green registered devices on
    * the `source` key; the oracle recomposes their own registered
    * oracle SQL as derived tables, so drift in ANY ingredient surfaces
    * twice (the p104 discipline). Output is |sources|-bounded.
    *
    * Reading it: `n_pass`/`n_docs` is the quality yield,
    * `n_dup_docs` the exact-dup tax, `n_neardup_within` internal
    * boilerplate, `n_neardup_cross` how much this feed re-publishes
    * (or is re-published by) others — the p76 signal that reallocates
    * token budgets, and `n_contaminated` what the eval-safety gate
    * would drop.
    */
  def releaseCard(s: SparkSession, d: String): DataFrame =
    releaseCardWith(s, d, Pipeline8.crossSourceOverlap(s, d))

  /** The card body over ANY overlap matrix — split out so the LIVE
    * twin (p134) can feed the store-derived pair matrix while the
    * registered p113 keeps pricing the from-scratch composition.
    */
  private[operators] def releaseCardWith(s: SparkSession, d: String,
                                         overlap: DataFrame): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val sc = Pipeline9.sourceScorecard(s, d)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_pass"), col("n_dup_docs"))
    val ov = overlap
      .localCheckpoint(eager = false) // feeds the within + cross splits
    val within = ov.filter(col("source_a") === col("source_b"))
      .select(col("source_a").as("source"),
        col("n_pairs").as("n_neardup_within"))
    val cross = ov.filter(col("source_a") =!= col("source_b"))
      .select(explode(array(col("source_a"), col("source_b"))).as("source"),
        col("n_pairs"))
      .groupBy(col("source"))
      .agg(sum(col("n_pairs")).as("n_neardup_cross"))
    val cont = Pipeline10.decontaminate(s, d)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(when(col("contaminated"), 1L).otherwise(0L))
        .as("n_contaminated"))
    sc.join(within, Seq("source"), "left")
      .join(cross, Seq("source"), "left")
      .join(cont, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_pass"),
        col("n_dup_docs"),
        coalesce(col("n_neardup_within"), lit(0L)).as("n_neardup_within"),
        coalesce(col("n_neardup_cross"), lit(0L)).as("n_neardup_cross"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .orderBy(col("source"))
  }

  val releaseCardOracle: String =
    s"""WITH sc AS (
       |  SELECT source, n_docs, n_tokens, n_pass, n_dup_docs
       |  FROM (${Pipeline9.sourceScorecardOracle}) x),
       |ov AS (SELECT * FROM (${Pipeline8.crossSourceOverlapOracle}) x),
       |w AS (SELECT source_a AS source, n_pairs AS nw FROM ov
       |      WHERE source_a = source_b),
       |cr AS (
       |  SELECT source, sum(n_pairs) AS nc FROM (
       |    SELECT source_a AS source, n_pairs FROM ov
       |    WHERE source_a <> source_b
       |    UNION ALL
       |    SELECT source_b, n_pairs FROM ov WHERE source_a <> source_b)
       |  GROUP BY source),
       |ct AS (
       |  SELECT d.source,
       |         sum(CASE WHEN c.contaminated THEN 1 ELSE 0 END) AS nct
       |  FROM (${Pipeline10.decontaminateOracle}) c
       |  JOIN documents d USING (doc_id)
       |  GROUP BY d.source)
       |SELECT sc.source, sc.n_docs, sc.n_tokens, sc.n_pass, sc.n_dup_docs,
       |       CAST(coalesce(w.nw, 0) AS BIGINT) AS n_neardup_within,
       |       CAST(coalesce(cr.nc, 0) AS BIGINT) AS n_neardup_cross,
       |       CAST(coalesce(ct.nct, 0) AS BIGINT) AS n_contaminated
       |FROM sc
       |LEFT JOIN w USING (source)
       |LEFT JOIN cr USING (source)
       |LEFT JOIN ct USING (source)
       |ORDER BY sc.source""".stripMargin

  /** Window width of the registered boilerplate-span query. */
  private val BoilerWindow = 20

  /** p114: WITHIN-document boilerplate span extraction — the positional
    * twin of the doc-level repetition signals (p29/p74): split each
    * document into fixed `w`-word windows, flag windows whose distinct-
    * token ratio is ≤ 60 % (exact integers: 5·distinct ≤ 3·w), and
    * emit every maximal run of flagged windows as a (w_start, w_end)
    * span — the "navigation header / repeated footer" shape a page
    * extractor trims by POSITION, which document-level scores can only
    * dilute into the average. Docs with no flagged window emit no rows;
    * the tail fragment shorter than `w` is never judged (the audio
    * segment-truncation contract).
    *
    * Scale shape: MAP-ONLY — windows, flags and the span fold all run
    * inside one projection over the token array (higher-order
    * functions, the p74 discipline: tokenization-adjacent ops are the
    * widest maps in a pipeline and must not shuffle); the only
    * exchange in the plan is the display sort. The oracle derives the
    * same spans by the INDEPENDENT gaps-and-islands algorithm
    * (positions → window aggregate → win − row_number() islands), so
    * the fold's run/boundary arithmetic is differentially checked
    * against a different derivation, not a mirror of itself.
    */
  def boilerplateSpans(s: SparkSession, d: String): DataFrame =
    boilerplateSpansOf(graft.Tables.documents(s, d), BoilerWindow)
      .orderBy(col("doc_id"), col("w_start"))

  def boilerplateSpansOf(docs: DataFrame, w: Int): DataFrame = {
    require(w > 0, "window width must be positive")
    // tokenize ONCE into a projected column: higher-order lambda bodies
    // evaluate per element with no subexpression hoisting, so a
    // split() inside the transform would re-tokenize the document per
    // window (quadratic in document length)
    val flags =
      s"""CASE WHEN size(toks) >= $w THEN
         |  transform(sequence(0, CAST(size(toks) DIV $w AS INT) - 1),
         |    i -> struct(i AS i,
         |      (5 * size(array_distinct(slice(toks, i * $w + 1, $w)))
         |         <= 3 * $w) AS f))
         |ELSE array() END""".stripMargin
    // fold flagged windows into maximal runs: acc = (closed spans, the
    // open run's start or -1); a false flag closes the open run, the
    // finisher closes a run still open at the last window
    val spans =
      s"""aggregate($flags,
         |  named_struct('sp', CAST(array() AS ARRAY<STRUCT<s: INT, e: INT>>),
         |               'cur', -1),
         |  (acc, x) -> IF(x.f,
         |    named_struct('sp', acc.sp,
         |                 'cur', IF(acc.cur = -1, x.i, acc.cur)),
         |    named_struct('sp', IF(acc.cur = -1, acc.sp,
         |                   array_append(acc.sp, struct(acc.cur AS s, x.i - 1 AS e))),
         |                 'cur', -1)),
         |  acc -> IF(acc.cur = -1, acc.sp,
         |    array_append(acc.sp, struct(acc.cur AS s,
         |      CAST(size(toks) DIV $w AS INT) - 1 AS e))))""".stripMargin
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(spans)).as("sp"))
      .select(col("doc_id"), col("sp.s").as("w_start"), col("sp.e").as("w_end"),
        (col("sp.e") - col("sp.s") + 1).cast("long").as("n_windows"))
  }

  val boilerplateSpansOracle: String = {
    val w = BoilerWindow
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tk AS (
       |  SELECT doc_id, CAST((i - 1) // $w AS INTEGER) AS win, w[i] AS tok
       |  FROM ws, unnest(range(1, (len(w) // $w) * $w + 1)) t(i)),
       |cnt AS (
       |  SELECT doc_id, win, count(DISTINCT tok) AS nd
       |  FROM tk GROUP BY 1, 2),
       |low AS (SELECT doc_id, win FROM cnt WHERE 5 * nd <= 3 * $w),
       |g AS (
       |  SELECT doc_id, win,
       |         win - row_number() OVER (PARTITION BY doc_id ORDER BY win)
       |           AS grp
       |  FROM low)
       |SELECT doc_id, CAST(min(win) AS INTEGER) AS w_start,
       |       CAST(max(win) AS INTEGER) AS w_end,
       |       CAST(count(*) AS BIGINT) AS n_windows
       |FROM g GROUP BY doc_id, grp
       |ORDER BY doc_id, w_start""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p104_ann_recall", annRecall, Some(annRecallOracle)),
    QuerySpec("p105_audio_containment", audioContainmentQuery,
      Some(audioContainmentOracle)),
    QuerySpec("p106_release_plan", releasePlan, Some(releasePlanOracle)),
    QuerySpec("p108_lsh_quality", lshQuality, Some(lshQualityOracle)),
    QuerySpec("p109_minhash_estimate", minhashEstimate,
      Some(minhashEstimateOracle)),
    QuerySpec("p110_audio_probe_stored", audioProbeStored,
      Some(audioProbeStoredOracle)),
    QuerySpec("p111_lsh_probe_stored", lshProbeStoredQuery,
      Some(lshProbeStoredOracle)),
    QuerySpec("p112_embedding_drift", embeddingDrift,
      Some(embeddingDriftOracle)),
    QuerySpec("p113_release_card", releaseCard, Some(releaseCardOracle)),
    QuerySpec("p114_boilerplate_spans", boilerplateSpans,
      Some(boilerplateSpansOracle)),
    QuerySpec("p115_semdedup_stored", semDedupStored,
      Some(semDedupStoredOracle)),
    QuerySpec("p116_ann_tuning", annTuning, Some(annTuningOracle)),
    QuerySpec("p117_lsh_verified_stored", lshVerifiedStored,
      Some(lshVerifiedStoredOracle)),
  )
}
