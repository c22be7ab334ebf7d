package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}

/** Pipeline operators, batch 14: the MAINTENANCE layer of the decision
  * devices batch 13 introduced — incremental cluster/weight upkeep
  * (p123: the live label store folded batch by batch, proved
  * append-equals-rebuild against p118's from-scratch oracle), the
  * trained-coarse-quantizer ANN tuning curve (p124: p116's table with
  * a Lloyd-trained, integer-frozen centroid method beside the seed
  * method, so the curve shows what training the quantizer buys at
  * equal read cost), and soft dedup generalized to a second modality
  * (p125: p118's weight device over p91's VIDEO clusters with the
  * frame-mass yield table — the label-table genericity claim turned
  * into a differential check).
  */
object Pipeline14 {

  /** Ingestion batches of the registered incremental entry — enough to
    * exercise a store-then-merge (batch 2 can connect two clusters
    * created by batches 0/1) and a later-smaller-minimum rewrite
    * (mod-split ids interleave, so a component's true minimum
    * routinely arrives AFTER other members).
    */
  private val IncBatches = 3

  /** p123: INCREMENTAL soft-dedup weights — p118's output produced by
    * the LIVE maintenance path instead of a corpus rescan: the corpus
    * arrives as [[IncBatches]] deterministic slices (`doc_id mod 3` —
    * the id interleave makes canonical minima arrive late, exercising
    * the component-rewrite path); each slice's near-dup evidence is
    * the within-batch LSH candidates PLUS the published-corpus gate
    * verdicts against the live signature store (`Dedup
    * .lshProbeStoredDF` — exactly what `textDedupGateBatch` feeds a
    * deployment), and [[LabelStore.update]] folds it with one
    * union-find step on the affected components only. The final
    * weights come from [[LabelStore.weightsFromStore]] — the label
    * table alone, no corpus scan.
    *
    * The oracle is p118's VERBATIM (from-scratch clusters over the
    * union corpus): hash-matching it is the append-equals-rebuild
    * proof — k incremental folds land bit-identically on the
    * from-scratch contraction, the `ivfAppend` spec discipline
    * applied to cluster labels.
    *
    * Scale shape: per batch, one batch-sized signature pipeline
    * (shared between the probe rows and the within-batch pairs — one
    * execution, two consumers), one store probe that prunes to the
    * queried bands, a mini contraction over batch ids + affected
    * canonicals, and a bucket-pruned label rewrite; the corpus is
    * never rescanned — the whole point. Priced as the ingestion op it
    * is: each rep pays the full 3-batch fold from scratch.
    */
  def incrementalSoftDedup(s: SparkSession, d: String): DataFrame = {
    val labelPath = java.nio.file.Files
      .createTempDirectory("graft_inc_labels_").toString
    val lshPath = java.nio.file.Files
      .createTempDirectory("graft_inc_lsh_").toString
    withScratch(s, labelPath, lshPath) {
      foldIncrementalLabels(s, d, labelPath, lshPath)
      cleanupAfter(
        LabelStore.weightsFromStore(s, labelPath).orderBy(col("doc_id")),
        labelPath, lshPath)
    }
  }

  /** The p123 fold loop itself — batch slices in, live label + LSH
    * stores out — split from the registered entry so the end-to-end
    * release composition (p129) can build the SAME stores once per JVM
    * (via [[IndexStores]]) instead of re-pricing the ingestion that
    * p123 already prices.
    */
  private[operators] def foldIncrementalLabels(s: SparkSession, d: String,
                                               labelPath: String,
                                               lshPath: String): Unit = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    for (i <- 0 until IncBatches) {
      val batch = docs
        .filter(pmod(col("doc_id"), lit(IncBatches.toLong)) === i.toLong)
      // ONE execution of the scan→shingle→minhash pipeline per batch,
      // shared by the signature rows (store + probe) and the
      // within-batch candidate pairs
      val banded = Dedup.minhashBands(
          Dedup.minhash(batch, "doc_id", "text",
            n = PipelineQueries.ShingleN, numHashes = 16),
          numHashes = 16, bands = 4)
        .localCheckpoint(eager = false)
      val sigRows = Dedup.sigRowsFromBands(banded)
      val within = Dedup.lshPairsFromBands(banded)
      if (i == 0) {
        LabelStore.write(LabelStore.labelsFor(batch, within), labelPath)
        Dedup.lshStoreWrite(sigRows, lshPath)
      } else {
        // gate verdicts: batch ↔ published candidate pairs (batch ids
        // are new by the mod split, so no self-hit filtering is owed)
        val cross = Dedup.lshProbeStoredDF(s, lshPath, sigRows)
          .select(col("qid").as("d1"), col("doc_id").as("d2"))
        LabelStore.update(s, labelPath, batch.select(col("doc_id")),
          within.union(cross))
        graft.sources.Partitioned.appendBy(
          sigRows.withColumn("ingest_batch", lit(i.toLong)),
          lshPath, "band")
      }
    }
  }

  /** The memoized TEXT store pair — p123's fold loop run ONCE per JVM
    * per dataset, keeping BOTH maintained stores under one root:
    * `labels/` (the live label table — p129's weights, p133's yield)
    * and `lsh/` (the live signature store — p134's pair matrix). The
    * fold itself is priced by p123 per rep; the entries reading this
    * root price only their downstream refresh against live state —
    * exactly the p130 store-pair discipline on the text modality.
    * (Until p133/p134 existed the signature store was deleted after
    * the fold as having no consumer; the live decision tables are
    * that consumer.)
    */
  private[operators] def textStoreRoot(s: SparkSession, d: String): String =
    IndexStores.of("inc_text_store", d) { p =>
      foldIncrementalLabels(s, d, s"$p/labels", s"$p/lsh")
    }

  /** Lloyd rounds of the registered frozen-trained method — fixed (no
    * eps early-exit) because the round count is part of the oracle's
    * unrolled semantics; 2 matches `ivfTopKTrained`'s default budget.
    */
  private[operators] val TrainedRounds = 2

  /** p124: the SEED-vs-TRAINED ANN tuning curve, answered from AT-REST
    * stores — p116's table with a second method row family: the same
    * 8-cell geometry under (a) the deterministic coreset seed (p41's
    * store, shared via the index memo) and (b) Lloyd centroids trained
    * for [[TrainedRounds]] rounds and FROZEN to the 10⁻⁶ integer grid
    * ([[Similarity.trainIvfCentroidsFrozen]] — the device that makes a
    * trained coarse quantizer bit-stable enough to store, probe and
    * differentially check; `ivfTopKTrained`'s float means never
    * could). One row per (method, nprobe) with recall@10 against the
    * exact ranking and the probed-read cost in exact ppm — the table
    * that shows what training the quantizer BUYS at equal read budget.
    * On the registered corpus the honest answer is ~NOTHING: the
    * synthetic embeddings are near-random, so Lloyd rounds mostly
    * re-balance cells without moving recall (measured ±0.06 across
    * operating points at every SF) — which is precisely the finding
    * this table exists to surface before a deployment pays for
    * training. On CLUSTERED data the trained rows dominate the seed
    * rows at every partial probe; SimilaritySpec pins that on the
    * clustered fixture, plus full-scan recall 1.0 for both methods
    * here. Both methods read 10⁶ ppm at nprobe = 8 by construction.
    *
    * Each method's candidates come from its own [[Similarity.ivfWrite]]
    * cell layout (seed: the shared p41 store; trained: its own memoized
    * store), so the entry exercises the full store→probe→curve path —
    * the oracle re-derives both trainings and both assignments from
    * first principles, proving the layouts semantics-preserving.
    */
  def annTuningTrained(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val exact = PipelineQueries.simTopK(s, d).select(col("qid"), col("cid"))
    val seed = Similarity.seedCentroids(emb, 8)
    val trained = Similarity.trainIvfCentroidsFrozen(emb, 8, TrainedRounds)
    val seedStore = PipelineQueries.ivfStorePath(s, d)
    val trainedStore = IndexStores.of("ivf_cells_trained", d) { p =>
      Similarity.ivfWrite(emb, trained, p)
    }
    Pipeline12.tuningCurveOver(s, s.read.parquet(seedStore), seed,
        queries, exact, "ivf_seed")
      .unionByName(Pipeline12.tuningCurveOver(s,
        s.read.parquet(trainedStore), trained, queries, exact,
        "ivf_trained"))
      .orderBy(col("method"), col("nprobe"))
  }

  /** p125: soft dedup over a SECOND modality — p118's weight device on
    * p91's VIDEO cluster labels, rolled up as the per-source FRAME
    * yield table (p121's budgeting shape with frame mass in place of
    * token mass): per source, the clip count, raw frame mass, the
    * effective frame mass after down-weighting by clip-family size
    * (`Σ n_frames·weight_ppm`, exact integer micro-frames) and the
    * retention ratio in ppm. This is the genericity claim of
    * `softDedupWeightsOf` ("ANY cluster label table fits") turned into
    * a differential check — the labels here come from dHash family
    * collapse + banded temporal pairs + O(log n) contraction, not from
    * text LSH, and the oracle recomposes p91's recursive label CTEs
    * under p118's window-weight device.
    *
    * Scale shape: ONE decode pass (the codec boundary) feeds both the
    * cluster path (exact-first star edges, banded rep pairs — p91's
    * shape) and the per-clip frame-mass projection; the weight join is
    * clip-keyed on ids both sides already carry; the roll-up folds to
    * |sources| rows map-side.
    */
  def videoSoftDedupYield(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val frames = Multimodal.decodeVideoFrames(Multimodal.attachVideo(docs))
      .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
      .localCheckpoint()
    val w = Pipeline13.softDedupWeightsOf(
      Pipeline10.videoClusterLabelsOf(docs, frames))
    docs.select(col("doc_id"), col("source"))
      .join(frames.select(col("doc_id"),
        col("n_frames").cast("long").as("nfr")).distinct(), Seq("doc_id"))
      .join(w.select(col("doc_id"), col("weight_ppm")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_clips"),
        sum(col("nfr")).as("raw_frames"),
        sum(col("nfr") * col("weight_ppm")).as("eff_frames_micro"))
      .select(col("source"), col("n_clips"), col("raw_frames"),
        col("eff_frames_micro"),
        // raw_frames >= n_clips >= 1 per source by construction, but
        // the guard keeps the generic shape total (the p121 edge)
        expr("CASE WHEN raw_frames = 0 THEN 0 " +
          "ELSE eff_frames_micro div raw_frames END").cast("long")
          .as("eff_ratio_ppm"))
      .orderBy(col("source"))
  }

  val videoSoftDedupYieldOracle: String =
    s"""WITH RECURSIVE ${Pipeline10.videoClusterLabelCtes},
       |wts AS (
       |  SELECT doc_id,
       |         CAST(1000000 // count(*) OVER (PARTITION BY canonical)
       |              AS BIGINT) AS weight_ppm
       |  FROM lab),
       |fm AS (
       |  SELECT d.doc_id, d.source, CAST(v.nf AS BIGINT) AS nfr
       |  FROM documents d JOIN vd v USING (doc_id))
       |SELECT f.source, CAST(count(*) AS BIGINT) AS n_clips,
       |       CAST(sum(f.nfr) AS BIGINT) AS raw_frames,
       |       CAST(sum(f.nfr * w.weight_ppm) AS BIGINT)
       |         AS eff_frames_micro,
       |       CAST(sum(f.nfr * w.weight_ppm) // sum(f.nfr) AS BIGINT)
       |         AS eff_ratio_ppm
       |FROM fm f JOIN wts w USING (doc_id)
       |GROUP BY f.source ORDER BY f.source""".stripMargin

  /** Materialize an ingestion entry's RESULT off its scratch stores,
    * then delete them: both incremental entries build fresh temp
    * stores per invocation (the fold IS what they price), and a
    * multi-rep bench would otherwise accumulate unbounded store copies
    * under /tmp. The eager checkpoint lifts the label-table-sized
    * output into block storage before the directories go.
    */
  private[operators] def cleanupAfter(result: DataFrame,
                                      dirs: String*): DataFrame = {
    val out = Prof.labeled(result.sparkSession, "fold.result") {
      result.localCheckpoint()
    }
    deleteDirs(out.sparkSession, dirs: _*)
    out
  }

  private[operators] def deleteDirs(s: SparkSession, dirs: String*): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
  }

  /** Scratch stores must go on FAILURE too, not only via
    * [[cleanupAfter]]'s success path: Bench catches per-rep exceptions
    * and keeps running, so a query that throws mid-fold would otherwise
    * leak its temp stores on every rep — exactly the unbounded /tmp
    * accumulation the cleanup exists to prevent.
    */
  private[operators] def withScratch[T](s: SparkSession, dirs: String*)(
      body: => T): T =
    try body
    catch { case t: Throwable => deleteDirs(s, dirs: _*); throw t }

  /** Cosine threshold of the registered incremental vector entry —
    * p115's measured-to-bind value (the synthetic embeddings are
    * near-random; 0.3 keeps a few dozen genuine pairs at every SF with
    * the nearest >1e-3 from the boundary).
    */
  private[operators] val VecTau = 0.3

  /** p126: INCREMENTAL vector cluster/weight maintenance — the VECTOR
    * member of p123's family: SemDeDup-style τ-component labels (and
    * their soft-dedup weights) kept LIVE as embedding batches arrive,
    * instead of re-clustering the corpus per refresh. Per batch: the
    * published-corpus verdicts come from the stored probe
    * (`Similarity.ivfProbeNearDup` over the live `ivfWrite` layout —
    * what `embeddingDedupGateBatch` runs), within-batch pairs from a
    * batch-bounded exact cosine pass, and `LabelStore.update` folds
    * both with the same union-find step (the label store is id-generic
    * by construction — the genericity p123 claims, exercised on a
    * second id space); the batch then `ivfAppend`s into the live cell
    * layout so the next batch's probe sees it.
    *
    * REGISTERED at nProbe = nCells (every probe is a full candidate
    * scan), which makes the incremental pair relation EXACTLY the
    * τ-pair graph of the union corpus — that is what lets the oracle
    * re-derive the from-scratch answer (all-pairs cosine τ-relation +
    * recursive closure + the p118 weight window) and hash-match it:
    * append-equals-rebuild for the vector modality. At partial probe
    * the same loop runs with the documented IVF recall trade (a stored
    * near-dup hiding in an unprobed cell is missed — p104/p116
    * measure the dial); StreamingSpec's vector gate already pins that
    * path's semantics.
    *
    * Scale shape: per batch one map-only assignment + probe join
    * (DPP-pruned at partial probe), one batch²-bounded exact cosine
    * block (a micro-batch is model-sized next to the corpus), the
    * evidence-bounded label fold, and a cell-partitioned append —
    * never a corpus rescan.
    */
  def incrementalVectorLabels(s: SparkSession, d: String): DataFrame =
    incrementalVectorLabelsAt(s, d, nProbe = 8)

  /** The p126 loop at ANY probe width — the registered entry runs it
    * at nProbe = nCells (exact); smaller widths are the deployment's
    * recall dial, and DedupSpec pins the REFINEMENT property: a
    * partial probe can only miss merges, never invent them, so every
    * partial-probe cluster sits inside one full-probe cluster.
    */
  private[graft] def incrementalVectorLabelsAt(s: SparkSession, d: String,
                                               nProbe: Int): DataFrame = {
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val nCells = 8
    val labelPath = java.nio.file.Files
      .createTempDirectory("graft_incv_labels_").toString
    val ivfPath = java.nio.file.Files
      .createTempDirectory("graft_incv_ivf_").toString
    withScratch(s, labelPath, ivfPath) {
    // the centroid model freezes at first build (the ivfAppend
    // contract); at full probe the model only shapes the layout, never
    // the candidate set
    val cents = Similarity.seedCentroids(emb, nCells)
    for (i <- 0 until IncBatches) {
      val batch = emb
        .filter(pmod(col("vec_id"), lit(IncBatches.toLong)) === i.toLong)
        .localCheckpoint(eager = false)
      // within-batch exact τ-pairs by CELL BLOCKING at full fan-out
      // (nProbe = nCells ⇒ every pair shares a cell, so the relation
      // is still the exact τ-graph and the oracle is untouched) — the
      // deployable shape: same comparison count as a crossJoin but
      // hash-partitioned by cell instead of one cartesian stage, so
      // the plan survives 100× batch sizes
      val within = Similarity.cellBlockedTauPairs(
        batch.select(col("vec_id"), col("embedding")), cents, VecTau,
        nProbe = nCells)
      if (i == 0) {
        LabelStore.write(
          LabelStore.labelsFor(batch.select(col("vec_id").as("doc_id")),
            within),
          labelPath)
        Similarity.ivfWrite(batch, cents, ivfPath)
      } else {
        val cross = Similarity
          .ivfProbeNearDup(s, ivfPath, batch, cents, VecTau, nProbe)
          .select(col("qid").as("d1"), col("cid").as("d2"))
        LabelStore.update(s, labelPath,
          batch.select(col("vec_id").as("doc_id")), within.union(cross))
        Similarity.ivfAppend(batch, cents, ivfPath)
      }
    }
    cleanupAfter(
      LabelStore.weightsFromStore(s, labelPath)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id")),
      labelPath, ivfPath)
    }
  }

  /** p126 oracle: the from-scratch τ-component labels of the union
    * corpus — all-pairs exact cosine at τ (the p115/p73 relation over
    * EVERY pair), recursive transitive closure to min labels (the p91
    * closure device), then the p118 weight window.
    */
  val incrementalVectorLabelsOracle: String = {
    val cos = PipelineQueries.duckCos("a.embedding", "b.embedding")
    s"""WITH RECURSIVE vp AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
       |  WHERE $cos >= $VecTau),
       |e AS (SELECT d1 AS a, d2 AS b FROM vp UNION SELECT d2, d1 FROM vp),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS vec_id, min(b) AS mn FROM r GROUP BY a),
       |lab AS (
       |  SELECT v.vec_id,
       |         CAST(coalesce(least(c.vec_id, c.mn), v.vec_id) AS BIGINT)
       |           AS canonical
       |  FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.vec_id)
       |SELECT vec_id, canonical,
       |       CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT)
       |         AS cluster_size,
       |       CAST(1000000 // count(*) OVER (PARTITION BY canonical)
       |            AS BIGINT) AS weight_ppm
       |FROM lab ORDER BY vec_id""".stripMargin
  }

  /** p124 oracle: the frozen Lloyd chain re-derived from first
    * principles — per round, the argmax assignment (the registered p13
    * CTE device) and the exact integer micro-mean (`sum(round(v·10⁶))`
    * then integer `//`, which DuckDB truncates toward zero on BIGINTs
    * exactly like Java long division — its floor semantics apply only
    * to DOUBLEs), the centroid read back as REAL — then BOTH methods'
    * curves through the registered p116 accounting. `assign1` (the
    * round-1 assignment under the seed) doubles as the seed store's
    * content, so one chain serves both method families and the stored
    * layouts are proven semantics-preserving.
    */
  /** One frozen-Lloyd round as DuckDB CTEs — the argmax assignment
    * (the registered p13 CTE device) and the exact integer micro-mean
    * (`sum(round(v·10⁶))` then integer `//`, which DuckDB truncates
    * toward zero on BIGINTs exactly like Java long division — its
    * floor semantics apply only to DOUBLEs), centroids read back as
    * REAL. Round `t` reads `cent{t-1}` (round 0 = `cents0`, the seed)
    * and yields `cent$t`. Factored out of the p124 oracle so the
    * drift-retrain differential (p145) re-derives the SAME training
    * loop — one SQL definition of a Lloyd round for every oracle that
    * trains.
    */
  private[operators] def lloydRoundCte(t: Int): String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    val prev = if (t == 1) "cents0" else s"cent${t - 1}"
    s"""assign$t AS MATERIALIZED (
       |  SELECT vec_id AS cid, embedding AS ce2, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN $prev c) WHERE rn = 1),
       |m$t AS (
       |  SELECT a.cell, u.i AS pos,
       |         CAST(sum(round(CAST(a.ce2[u.i + 1] AS DOUBLE) * 1000000))
       |              AS BIGINT) AS s,
       |         count(*) AS c
       |  FROM assign$t a, unnest(range(0, len(a.ce2))) AS u(i)
       |  GROUP BY 1, 2),
       |cent$t AS MATERIALIZED (
       |  SELECT c0.ccid, coalesce(n.ce, c0.ce) AS ce
       |  FROM $prev c0 LEFT JOIN (
       |    SELECT cell AS ccid,
       |           list(CAST(CAST(s // c AS DOUBLE) / 1000000 AS REAL)
       |                ORDER BY pos) AS ce
       |    FROM m$t GROUP BY 1) n USING (ccid))""".stripMargin
  }

  /** The seed-model CTE shared by the training oracles: the first
    * nCells=8 vectors by id — [[Similarity.seedCentroids]]' exact
    * definition in SQL.
    */
  private[operators] val seedCentsCte: String =
    """cents0 AS (
      |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings
      |  WHERE vec_id < 8)""".stripMargin

  val annTuningTrainedOracle: String = {
    val ccos = PipelineQueries.duckCos("e.embedding", "c.ce")
    val cos = PipelineQueries.duckCos("p.qe", "a.ce2")
    def trainRound(t: Int): String = lloydRoundCte(t)
    // the final trained assignment (under the last round's centroids) —
    // the trained store's content
    val finalAssign =
      s"""assignF AS MATERIALIZED (
         |  SELECT vec_id AS cid, embedding AS ce2, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                ORDER BY $ccos DESC, c.ccid) AS rn
         |    FROM embeddings e CROSS JOIN cent$TrainedRounds c)
         |  WHERE rn = 1)""".stripMargin
    def curve(tag: String, assign: String, cents: String): String =
      s"""probes$tag AS (
         |  SELECT qid, qe, rn AS prank, cell FROM (
         |    SELECT e.vec_id AS qid, e.embedding AS qe, c.ccid AS cell,
         |           row_number() OVER (PARTITION BY e.vec_id
         |                ORDER BY $ccos DESC, c.ccid) AS rn
         |    FROM embeddings e CROSS JOIN $cents c WHERE e.vec_id < 5)
         |  WHERE rn <= 8),
         |cand$tag AS (
         |  SELECT p.qid, p.prank, a.cid, $cos AS cos
         |  FROM $assign a JOIN probes$tag p
         |    ON a.cell = p.cell AND p.qid <> a.cid),
         |ranked$tag AS (
         |  SELECT np.nprobe, c.qid, c.cid,
         |         row_number() OVER (PARTITION BY np.nprobe, c.qid
         |              ORDER BY c.cos DESC, c.cid) AS rnk
         |  FROM np JOIN cand$tag c ON c.prank <= np.nprobe),
         |hits$tag AS (
         |  SELECT nprobe, count(*) AS n_hits
         |  FROM ranked$tag r JOIN exact e ON e.qid = r.qid AND e.cid = r.cid
         |  WHERE r.rnk <= 10 GROUP BY 1),
         |sizes$tag AS (SELECT cell, count(*) AS csz FROM $assign
         |              GROUP BY cell),
         |reads$tag AS (
         |  SELECT np.nprobe, sum(s.csz) AS rows_read
         |  FROM np JOIN probes$tag p ON p.prank <= np.nprobe
         |  JOIN sizes$tag s ON s.cell = p.cell GROUP BY 1)""".stripMargin
    def tail(tag: String, method: String): String =
      s"""SELECT '$method' AS method, np.nprobe,
         |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       round(coalesce(h.n_hits, 0) / CAST(dn.denom AS DOUBLE), 4)
         |         AS recall,
         |       CAST(coalesce(r.rows_read, 0) AS BIGINT) AS rows_read,
         |       CAST(coalesce(r.rows_read, 0) * 1000000 // (tot.nq * tot.n)
         |            AS BIGINT) AS read_ppm
         |FROM np LEFT JOIN hits$tag h USING (nprobe)
         |LEFT JOIN reads$tag r USING (nprobe)
         |CROSS JOIN dn CROSS JOIN tot""".stripMargin
    s"""WITH $seedCentsCte,
       |${(1 to TrainedRounds).map(trainRound).mkString(",\n")},
       |$finalAssign,
       |np AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INTEGER) AS nprobe),
       |exact AS (SELECT qid, cid FROM (${PipelineQueries.simTopKOracle}) x),
       |dn AS (SELECT count(*) AS denom FROM exact),
       |tot AS (SELECT (SELECT count(*) FROM embeddings) AS n,
       |               (SELECT count(*) FROM embeddings WHERE vec_id < 5)
       |                 AS nq),
       |${curve("S", "assign1", "cents0")},
       |${curve("T", "assignF", s"cent$TrainedRounds")}
       |${tail("S", "ivf_seed")}
       |UNION ALL
       |${tail("T", "ivf_trained")}
       |ORDER BY method, nprobe""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // p118's from-scratch oracle verbatim: append equals rebuild
    QuerySpec("p123_incremental_soft_dedup", incrementalSoftDedup,
      Some(Pipeline13.softDedupWeightsOracle), Pricing.Ingestion),
    QuerySpec("p124_ann_tuning_trained", annTuningTrained,
      Some(annTuningTrainedOracle), Pricing.Training),
    QuerySpec("p125_video_soft_dedup", videoSoftDedupYield,
      Some(videoSoftDedupYieldOracle)),
    QuerySpec("p126_incremental_vector_labels", incrementalVectorLabels,
      Some(incrementalVectorLabelsOracle), Pricing.Ingestion),
  )
}
