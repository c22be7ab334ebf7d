package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 13: the DECISION layer on top of the
  * dedup and classifier devices — soft-dedup sampling weights (keep
  * every document, down-weight by near-dup cluster mass instead of
  * dropping — the SoftDeDup recipe), their per-epoch sampling
  * realization, the per-source effective token-yield budget table,
  * classifier CALIBRATION bands (does the perceptron's margin
  * magnitude actually predict its accuracy — the reliability table a
  * deployment reads before it trusts a score threshold), and the
  * band-occupancy rates behind the label-free streaming score-drift
  * gate. Every member is a composition of already-green registered
  * devices (p20's cluster labels, p102's trained weights, p08's token
  * counter) with exact-integer outputs, so each registered query
  * carries a full DuckDB oracle derived from the ingredient oracles.
  */
object Pipeline13 {

  /** p118: SOFT deduplication — per-document sampling weight in exact
    * integer ppm, `1_000_000 div |cluster|`, over p20's near-dup
    * cluster labels (MinHash-LSH pairs → min-label contraction).
    *
    * Hard dedup (keep one representative per cluster) throws away the
    * signal that a document was popular enough to be re-posted; epoch-
    * level down-weighting keeps every document visible to the sampler
    * but makes each CLUSTER contribute one document-equivalent of
    * expected mass per epoch — sum(weight_ppm) over a cluster is
    * ~1e6 regardless of how many copies exist. Integer division keeps
    * the output hash-exact across engines (both sides positive, so
    * DuckDB's floor `//` and Spark's truncating `div` agree); the
    * deliberate remainder (3 copies → 3×333_333 = 999_999 ppm) is the
    * price of exactness and is bounded by |cluster| ppb per cluster.
    *
    * Scale shape: everything rides p20's machinery — banded LSH
    * candidate pairs (never all-pairs) and the O(diameter) min-label
    * contraction; the addition is a single unbounded-frame window
    * count partitioned on the canonical label: ONE exchange on the key
    * the contraction already produced, no join. (A groupBy-sizes +
    * join-back spelling was measured ~0.5 s slower at sf0.1 and —
    * more importantly — tempts a `broadcast(sizes)` that would be a
    * scale-killer: the cluster table has one row per CLUSTER, which is
    * corpus-order when singletons dominate, as they do in any real
    * crawl.)
    */
  def softDedupWeights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)
    softDedupWeightsOf(Dedup.dedupClusters(docs, "doc_id", pairs))
      .orderBy(col("doc_id"))
  }

  /** Library entry behind p118: sampling weights from ANY cluster
    * label table `(doc_id, canonical)` — p20's min-label output, p33's
    * log-n contraction, or a perceptual/video cluster table all fit.
    * One window count on the canonical key; no join, no sort.
    */
  def softDedupWeightsOf(lab: DataFrame): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("canonical"))
    lab.withColumn("cluster_size", count(lit(1)).over(byCluster))
      .select(col("doc_id"), col("canonical"), col("cluster_size"),
        expr("1000000 div cluster_size").cast("long").as("weight_ppm"))
  }

  /** p118 oracle: p20's recursive cluster-label CTE chain (the exact
    * ingredient oracle, reused verbatim) + the size roll-up + the same
    * integer-ppm division.
    */
  val softDedupWeightsOracle: String =
    s"""WITH ${PipelineQueries.clusterLabelCtes},
       |sz AS (SELECT canonical, count(*) AS cluster_size
       |       FROM lab GROUP BY canonical)
       |SELECT l.doc_id, l.canonical,
       |       CAST(s.cluster_size AS BIGINT) AS cluster_size,
       |       CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
       |FROM lab l JOIN sz s USING (canonical)
       |ORDER BY doc_id""".stripMargin

  /** p119: CALIBRATION bands for the p102 perceptron — the
    * reliability table (confidence band → empirical accuracy) that
    * decides whether a margin threshold is trustworthy. Bands are the
    * DECIMAL DIGIT COUNT of |margin| signed by the prediction
    * (`pred · digits(|margin|)`): a log-scale banding that is exact in
    * integers (no float bucketing, no floor-vs-truncate divergence),
    * portable (both engines render a BIGINT's digits identically), and
    * bounded by construction (≤ 19 digits either side). Per band:
    * document count, correct count, and accuracy in integer ppm. A
    * calibrated scorer shows accuracy rising with the band's
    * magnitude; the registered corpus shows exactly the asymmetry the
    * p102/p107 scaladocs measure (the negative bands are much purer
    * than the positive ones), which is why the table earns its place —
    * a deployment reading only the global accuracy would set a
    * symmetric threshold and be wrong on one side.
    *
    * Scale shape: training is p102's (rounds × broadcast-join passes,
    * B=256 weights by construction); the calibration pass itself is
    * ONE broadcast-scoring join over the corpus followed by a ≤38-row
    * aggregation — map-side partial aggs fold each partition to the
    * band table, so the exchange moves rows proportional to bands,
    * not documents.
    */
  def calibrationBands(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = Pipeline11.perceptronTrainFor(s, d)
    calibrationBandsOf(Pipeline11.perceptronScore(docs, w)
      .join(Pipeline11.labelsOf(docs), Seq("doc_id")))
      .orderBy(col("band"))
  }

  /** Library entry behind p119: the calibration table of ANY scored
    * frame carrying `(margin, pred, y)` — the registered perceptron,
    * a held-out corpus under a frozen model, or any integer-margin
    * scorer. One projection + a bands-sized aggregate; no sort.
    */
  def calibrationBandsOf(scored: DataFrame): DataFrame =
    scored
      .select(
        (col("pred") * length(abs(col("margin")).cast("string")))
          .as("band"),
        (col("pred") === col("y")).cast("long").as("ok"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"))
      .select(col("band"), col("n_docs"), col("n_correct"),
        expr("1000000 * n_correct div n_docs").cast("long").as("acc_ppm"))

  /** p119 oracle: p102's unrolled 22-round training CTEs (reused
    * verbatim — the w22 weight table is byte-identical to the
    * engine's), one scoring pass, then the digit-count banding and the
    * ppm roll-up. Both `div` operands are non-negative, so DuckDB's
    * floor `//` matches Spark's truncating `div`.
    */
  val calibrationBandsOracle: String =
    s"""WITH ${Pipeline11.perceptronCtes(Pipeline11.PcRounds)},
       |sc AS (
       |  SELECT f.doc_id, f.y,
       |         CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
       |  FROM f LEFT JOIN w${Pipeline11.PcRounds} w USING (b)
       |  GROUP BY f.doc_id, f.y),
       |bands AS (
       |  SELECT CASE WHEN margin > 0 THEN 1 ELSE -1 END
       |           * length(CAST(abs(margin) AS VARCHAR)) AS band,
       |         CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END AS ok
       |  FROM sc)
       |SELECT CAST(band AS BIGINT) AS band,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(ok) AS BIGINT) AS n_correct,
       |       CAST(1000000 * sum(ok) // count(*) AS BIGINT) AS acc_ppm
       |FROM bands GROUP BY band ORDER BY band""".stripMargin

  /** Epoch grid of the registered p120 sample — small and fixed so
    * the differential compare covers several realizations.
    */
  // package-visible: p129 reuses softDedupSampleOracle VERBATIM, so its
  // draw must share THIS epoch grid — a copied literal would let the
  // two silently diverge on the next bump
  private[operators] val SampleEpochs = 4

  /** p120's deterministic weight + epoch-draw tail over a `lab`
    * relation — THE one SQL definition of the chained release draw,
    * shared by every composed release oracle (p131/p135/p138/p142/
    * p144/p148) so the family cannot drift on the draw formula or the
    * epoch grid: a constant or rounding tweak lands everywhere or
    * nowhere.
    */
  private[operators] val releaseDrawTail: String =
    s"""wts AS (
       |  SELECT doc_id, canonical,
       |         CAST(1000000 // count(*) OVER (PARTITION BY canonical)
       |              AS BIGINT) AS weight_ppm
       |  FROM lab),
       |ep AS (SELECT unnest(range(0, $SampleEpochs)) AS epoch)
       |SELECT CAST(e.epoch AS BIGINT) AS epoch, w.doc_id, w.canonical,
       |       w.weight_ppm
       |FROM wts w CROSS JOIN ep e
       |WHERE CAST('0x' || substr(md5(CAST(w.doc_id AS VARCHAR) || ':' ||
       |        CAST(e.epoch AS VARCHAR)), 1, 7) AS BIGINT) % 1000000
       |      < w.weight_ppm
       |ORDER BY epoch, doc_id""".stripMargin

  /** p120: the sampling REALIZATION of p118 — the per-epoch document
    * list a trainer actually consumes. A document is drawn in epoch e
    * iff `md5_bucket(doc_id || ':' || e) mod 1e6 < weight_ppm` (the
    * p18 keyed-sample device, keyed on (doc, epoch) so each epoch is
    * an independent deterministic draw): full-weight singletons appear
    * in EVERY epoch by construction (their draw is always < 1e6), and
    * a size-k cluster admits each member with probability ~1/k, so
    * expected per-epoch cluster mass is ~one document-equivalent —
    * the property p118 promises, realized. Deterministic end-to-end:
    * re-running an epoch reproduces the same document list (what makes
    * training runs reproducible and the differential oracle possible —
    * no `rand()` anywhere).
    *
    * Scale shape: p118's plan plus a broadcast |epochs|-row grid and a
    * map-side filter — the draw is computed per (doc, epoch) row with
    * no shuffle beyond p118's window exchange and the display sort.
    */
  def softDedupSample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)
    val w = softDedupWeightsOf(Dedup.dedupClusters(docs, "doc_id", pairs))
    softDedupSampleOf(w, SampleEpochs).orderBy(col("epoch"), col("doc_id"))
  }

  /** Library entry behind p120: realize ANY `(doc_id, canonical,
    * weight_ppm)` weight table (p118's, or caller-adjusted weights)
    * into per-epoch draws for epochs `0..epochs-1`.
    */
  def softDedupSampleOf(weights: DataFrame, epochs: Int): DataFrame = {
    val grid = weights.sparkSession.range(0, epochs.toLong)
      .select(col("id").as("epoch"))
    weights.crossJoin(broadcast(grid))
      .withColumn("draw",
        pmod(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":"), col("epoch").cast("string"))), 1, 7), 16, 10)
          .cast("long"), lit(1000000L)))
      .filter(col("draw") < col("weight_ppm"))
      .select(col("epoch"), col("doc_id"), col("canonical"),
        col("weight_ppm"))
  }

  /** p120 oracle: p118's label CTEs + a window size count, the epoch
    * grid, and the same md5 draw inequality.
    */
  val softDedupSampleOracle: String =
    s"""WITH ${PipelineQueries.clusterLabelCtes},
       |wts AS (
       |  SELECT doc_id, canonical,
       |         CAST(1000000 // count(*) OVER (PARTITION BY canonical)
       |              AS BIGINT) AS weight_ppm
       |  FROM lab),
       |ep AS (SELECT unnest(range(0, $SampleEpochs)) AS epoch)
       |SELECT CAST(e.epoch AS BIGINT) AS epoch, w.doc_id, w.canonical,
       |       w.weight_ppm
       |FROM wts w CROSS JOIN ep e
       |WHERE CAST('0x' || substr(md5(CAST(w.doc_id AS VARCHAR) || ':' ||
       |        CAST(e.epoch AS VARCHAR)), 1, 7) AS BIGINT) % 1000000
       |      < w.weight_ppm
       |ORDER BY epoch, doc_id""".stripMargin

  /** p121: effective TOKEN YIELD per source — the budgeting table a
    * data lead reads before allocating a token budget: per source, the
    * document count, the raw whitespace-token count, and the EFFECTIVE
    * token mass after soft-dedup down-weighting (`Σ ntok·weight_ppm`,
    * exact integer micro-tokens — divide by 1e6 for tokens), plus the
    * retention ratio in ppm. Raw counts overstate what a corpus is
    * worth exactly where it is most duplicated; this is the number
    * that makes two sources comparable BEFORE p43's temperature mixing
    * allocates between them, and the per-source gap (raw vs effective)
    * is the duplication tax itemized.
    *
    * Scale shape: the token projection is map-side on the document
    * scan; the weight join is doc-keyed corpus×corpus on the id both
    * sides already carry (deliberately NOT broadcast — both sides are
    * corpus-order); the final aggregate folds to |sources| rows with
    * map-side partials. Integer micro-token sums stay exact and
    * order-free across any partitioning (Σ ntok·ppm ≤ 1e6·Σ ntok —
    * longs hold corpora to ~9·10¹² tokens; beyond that, fold per-source
    * partials through DECIMAL(38,0), same plan shape).
    */
  def tokenYield(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)
    val w = softDedupWeightsOf(Dedup.dedupClusters(docs, "doc_id", pairs))
    tokenYieldOf(docs, w).orderBy(col("source"))
  }

  /** Library entry behind p121: the yield table of ANY corpus carrying
    * `(doc_id, source, text)` under ANY `(doc_id, weight_ppm)` weight
    * table — p118's, or caller-adjusted weights.
    */
  def tokenYieldOf(docs: DataFrame, weights: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.wsTokenCount(col("text"))
          .cast("long").as("ntok"))
      .join(weights.select(col("doc_id"), col("weight_ppm")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("raw_tokens"),
        sum(col("ntok") * col("weight_ppm")).as("eff_tokens_micro"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("eff_tokens_micro"),
        // a source whose documents are all empty has 0 raw tokens and
        // no defined ratio; report 0 instead of a null (generic-entry
        // edge — the registered corpus has no empty source)
        expr("CASE WHEN raw_tokens = 0 THEN 0 " +
          "ELSE eff_tokens_micro div raw_tokens END").cast("long")
          .as("eff_ratio_ppm"))

  /** p121 oracle: label CTEs + window weights (p118's device), p08's
    * whitespace-token expression, one doc-keyed join, one source
    * roll-up.
    */
  val tokenYieldOracle: String =
    s"""WITH ${PipelineQueries.clusterLabelCtes},
       |wts AS (
       |  SELECT doc_id,
       |         CAST(1000000 // count(*) OVER (PARTITION BY canonical)
       |              AS BIGINT) AS weight_ppm
       |  FROM lab),
       |tok AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
       |  FROM documents)
       |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(t.ntok) AS BIGINT) AS raw_tokens,
       |       CAST(sum(t.ntok * w.weight_ppm) AS BIGINT)
       |         AS eff_tokens_micro,
       |       CAST(sum(t.ntok * w.weight_ppm) // sum(t.ntok) AS BIGINT)
       |         AS eff_ratio_ppm
       |FROM tok t JOIN wts w USING (doc_id)
       |GROUP BY t.source ORDER BY t.source""".stripMargin

  /** p122: the THRESHOLD operating curve of the learned filter — the
    * p108/p116-style tuning table for p102: for every p119 band used
    * as a decision threshold ("keep a document iff its band ≥ t"),
    * the true/false positive counts and precision/recall in integer
    * ppm against the distillation label. The banding is MONOTONE in
    * the margin (digit count rises with |margin| on each side), so
    * band-granular thresholds are order-consistent with margin
    * thresholds, and the cumulative counts are exact window sums —
    * this is the table that turns p119's "is the score trustworthy"
    * into "WHERE do I cut": a curator picks the band where precision
    * meets the target and reads off the recall they pay.
    *
    * Scale shape: one broadcast-scoring pass folds the corpus to the
    * ≤38-row (band, pos, neg) table map-side; the cumulative window
    * then runs on that BOUNDED table — a single-partition window over
    * ≤38 rows by construction (not a corpus window; the p75 rule
    * doesn't apply to model-sized frames). Total positives ride the
    * same frame as a window total, so the whole curve is one job.
    */
  def thresholdCurve(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = Pipeline11.perceptronTrainFor(s, d)
    thresholdCurveOf(Pipeline11.perceptronScore(docs, w)
      .join(Pipeline11.labelsOf(docs), Seq("doc_id")))
      .orderBy(col("band"))
  }

  /** Library entry behind p122: the operating curve of ANY scored
    * frame carrying `(margin, pred, y)` under band-≥-t thresholds.
    */
  def thresholdCurveOf(scored: DataFrame): DataFrame = {
    val byBand = scored
      .select(
        (col("pred") * length(abs(col("margin")).cast("string")))
          .as("band"),
        when(col("y") === 1L, 1L).otherwise(0L).as("pos"),
        when(col("y") === -1L, 1L).otherwise(0L).as("neg"))
      .groupBy(col("band"))
      .agg(sum(col("pos")).as("pos"), sum(col("neg")).as("neg"))
    val fromTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    byBand
      .withColumn("tp", sum(col("pos")).over(fromTop))
      .withColumn("fp", sum(col("neg")).over(fromTop))
      .withColumn("p_all", sum(col("pos")).over(all))
      .select(col("band"), col("tp"), col("fp"),
        expr("1000000 * tp div (tp + fp)").cast("long")
          .as("precision_ppm"),
        // a scored frame with NO positive labels has no defined recall;
        // report 0 instead of a null row — the generic Engine entry
        // accepts any (margin, pred, y) frame, so the edge is reachable
        // even though the registered corpus always has positives
        expr("CASE WHEN p_all = 0 THEN 0 " +
          "ELSE 1000000 * tp div p_all END").cast("long").as("recall_ppm"))
  }

  /** p122 oracle: p102's unrolled training CTEs + the same band
    * roll-up and cumulative window, ordered identically (band DESC is
    * a total order on the distinct-band table, so the frame is
    * engine-independent).
    */
  val thresholdCurveOracle: String =
    s"""WITH ${Pipeline11.perceptronCtes(Pipeline11.PcRounds)},
       |sc AS (
       |  SELECT f.doc_id, f.y,
       |         CAST(sum(f.cnt * coalesce(w.w, 0)) AS BIGINT) AS margin
       |  FROM f LEFT JOIN w${Pipeline11.PcRounds} w USING (b)
       |  GROUP BY f.doc_id, f.y),
       |byband AS (
       |  SELECT CASE WHEN margin > 0 THEN 1 ELSE -1 END
       |           * length(CAST(abs(margin) AS VARCHAR)) AS band,
       |         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
       |         sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY 1),
       |cum AS (
       |  SELECT band,
       |         sum(pos) OVER (ORDER BY band DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |         sum(neg) OVER (ORDER BY band DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
       |         sum(pos) OVER () AS p_all
       |  FROM byband)
       |SELECT CAST(band AS BIGINT) AS band, CAST(tp AS BIGINT) AS tp,
       |       CAST(fp AS BIGINT) AS fp,
       |       CAST(1000000 * tp // (tp + fp) AS BIGINT) AS precision_ppm,
       |       CAST(1000000 * tp // p_all AS BIGINT) AS recall_ppm
       |FROM cum ORDER BY band""".stripMargin

  /** Band-occupancy rates of `docs` scored under `weights`: one row
    * per p119 band with its count and occupancy in ppm of the batch.
    * The LABEL-FREE projection of the calibration table — arriving
    * data has no `y`, but its margin DISTRIBUTION is observable, and a
    * model/feed mismatch moves mass between bands. `cnt`/`rate` column
    * names are caller-chosen so base and batch sides can join
    * (the Pipeline9.bucketRates convention).
    */
  private[graft] def bandRates(docs: DataFrame, weights: DataFrame,
                               cnt: String, rate: String): DataFrame = {
    val bands = Pipeline11.perceptronScore(docs, weights)
      .select((col("pred") * length(abs(col("margin")).cast("string")))
        .as("band"))
    // The batch total rides a window over the already-folded ≤38-row
    // band table (the p122 bounded-frame device) — the previous
    // separate `agg(count)` consumer re-ran the heaviest stage (feature
    // explode + broadcast score + doc roll-up) a second time per
    // micro-batch.
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    bands.groupBy(col("band")).agg(count(lit(1)).as(cnt))
      .withColumn("__t", sum(col(cnt)).over(all))
      .select(col("band"), col(cnt),
        expr(s"CAST($cnt * 1000000 DIV __t AS BIGINT)").as(rate))
  }

  /** The frozen BASE side of the score-drift gate: band occupancy of
    * the published corpus under the deployed model — compute once at
    * model freeze, `localCheckpoint`/persist, and hand to
    * `StreamingOps.scoreDriftGateBatch` on every micro-batch.
    */
  def scoreBandRates(docs: DataFrame, weights: DataFrame): DataFrame =
    bandRates(docs, weights, "cb", "rb")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p118_soft_dedup", softDedupWeights,
      Some(softDedupWeightsOracle)),
    QuerySpec("p119_calibration", calibrationBands,
      Some(calibrationBandsOracle)),
    QuerySpec("p120_soft_dedup_sample", softDedupSample,
      Some(softDedupSampleOracle)),
    QuerySpec("p121_token_yield", tokenYield, Some(tokenYieldOracle)),
    QuerySpec("p122_threshold_curve", thresholdCurve,
      Some(thresholdCurveOracle)),
  )
}
