package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Pipeline operators, batch 11: LEARNED filters — a linear classifier
  * trained relationally with EXACT integer arithmetic (batch
  * perceptron over hashed bag-of-words features), the fastText-style
  * quality-classifier shape (CCNet/GPT-3 filtering) expressed so both
  * the training loop and the scoring pass carry a full DuckDB oracle.
  */
object Pipeline11 {

  /** Hashed-feature space (md5 7-hex device, cross-engine) and
    * training-round budget of the registered query. B=256 keeps the
    * weight vector broadcastable-by-construction (the DSIR argument);
    * the 22-round budget is
    * MEASURED, not guessed: raw batch perceptron oscillates once it
    * leaves the all-positive basin (rounds 1–13 here — the +/− class
    * imbalance swamps early batch updates), and 22 is inside the
    * window where the learned model beats the majority-class baseline
    * with a non-trivial prediction split at ALL THREE test SFs. A
    * training op, priced like p56's Lloyd rounds.
    */
  private val PcB = 256
  private[operators] val PcRounds = 22

  /** The distillation target: p74's stopword-floor rule
    * `stop_ratio ≥ 0.02`, chosen because it is EXACTLY linear in raw
    * counts (`50·n_stop − n_total ≥ 0`), so the concept is genuinely
    * learnable by a linear model over count features — distilling an
    * expensive rule into a cheap hashed-feature scorer is precisely
    * what pipeline classifiers are for. The fixed stop list is p74's.
    */
  private val PcStops = Seq("the", "a", "of", "and", "to")

  /** p102: integer BATCH-PERCEPTRON training + scoring, fully
    * relational. Per round: score every document against the current
    * weights (one broadcast join on the B-bounded weight table + one
    * doc-keyed roll-up), collect the misclassified set's summed
    * feature updates into ≤ B rows, add. Batch updates make each round
    * ORDER-FREE (pure sums — unlike the sequential classic, any
    * partitioning gives identical weights), which is what lets the
    * oracle unroll the rounds as generated CTE blocks (the q64/q72
    * device) and the engine run them as keyed aggregations. Everything
    * is a bounded integer: y ∈ {−1,+1}, counts, weights — no float
    * enters the plan, so the hash compare is exact, not margin-argued.
    *
    * Output: each doc's final margin, prediction, label, and
    * correctness — the audit table that decides whether the distilled
    * model can replace the rule it mimics.
    *
    * Scale shape: the feature table is built once (map-side hash +
    * one (doc, bucket) aggregation) and checkpointed; each round
    * touches the corpus only through feats — one broadcast-weights
    * scoring join (weights are B ≤ 256 rows BY CONSTRUCTION) and one
    * misclassified-set semi-join folding into B rows. Training cost is
    * rounds × two keyed passes; scoring a NEW corpus is one broadcast
    * join — the whole point of distilling into a linear model.
    */
  def perceptronQuality(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = perceptronTrainFor(s, d)
    perceptronScore(docs, w)
      .join(labelsOf(docs), Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("margin"), col("pred"))
      .withColumn("correct", col("pred") === col("y"))
      .orderBy(col("doc_id"))
  }

  /** The exact-integer distillation label of the registered query:
    * `50·n_stop − n_total ≥ 0` ⟺ p74's stop_ratio ≥ 0.02 rule.
    */
  private[operators] def labelsOf(docs: DataFrame): DataFrame = {
    val stops = PcStops.map(lit(_))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"))
      .agg((lit(50) * sum(col("term").isin(stops: _*).cast("long")) -
            count(lit(1))).as("lm"))
      .select(col("doc_id"),
        when(col("lm") >= 0, lit(1L)).otherwise(lit(-1L)).as("y"))
  }

  /** Hashed unigram-count features + the bias feature (bucket −1). */
  private def featsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("term")), 1, 7), 16, 10).cast("long"),
          lit(PcB.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("b"),
        lit(1L).as("cnt")))

  /** Library TRAIN entry behind p102: the (bucket, weight) model of
    * `docs` under the registered label, after the fixed round budget.
    */
  def perceptronTrain(docs: DataFrame): DataFrame = {
    val feats = featsOf(docs)
      .join(labelsOf(docs), Seq("doc_id"))
      .localCheckpoint(eager = false)
    var w = feats.select(col("b")).distinct()
      .withColumn("w", lit(0L)).localCheckpoint()
    for (_ <- 1 to PcRounds) {
      val margins = feats.join(broadcast(w), Seq("b"), "left")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
      val mis = margins.filter(col("y") * col("margin") <= 0)
        .select(col("doc_id"))
      val delta = feats.join(mis, Seq("doc_id"))
        .groupBy(col("b")).agg(sum(col("y") * col("cnt")).as("dw"))
      w = w.join(delta, Seq("b"), "left")
        .select(col("b"), (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
        .localCheckpoint()
    }
    w
  }

  /** Per-JVM memo of the registered-corpus trained model — the
    * [[IndexStores]] discipline applied to classifier weights: p102,
    * p119 (calibration) and p122 (threshold curve) all consume the
    * SAME deployed model, so a suite run trains it once per dataset
    * dir instead of paying the 22 rounds three times (and that is the
    * deployed shape too: train once, calibrate/tune/score many). The
    * memo holds the COLLECTED weight rows — bounded at B+1 = 257 by
    * construction — and every consumer rebuilds a local frame from
    * them; weights are exact integers, so the rebuilt frame is
    * bit-identical to the training output and every oracle is
    * untouched. Same staleness contract as IndexStores: the dataset
    * directory is immutable per session.
    */
  private val trainedWeights =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()

  private[operators] def perceptronTrainFor(s: SparkSession,
                                            d: String): DataFrame = {
    val rows = trainedWeights.computeIfAbsent(d, _ =>
      perceptronTrain(documents(s, d))
        .collect().map(r => (r.getLong(0), r.getLong(1))))
    import s.implicits._
    rows.toSeq.toDF("b", "w")
  }

  /** Round budget of the POCKET form — deliberately larger than
    * p102's 22: with pocket selection, extra rounds can only improve
    * the output (the returned model's training error is monotone
    * non-increasing in the budget), so the budget stops being a tuned
    * stopping point and becomes a cost cap. Measured on this corpus
    * (per-round misclassification counts): the full sf0.1 trajectory OSCILLATES
    * between 73 and 733 misclassifications with no convergence by
    * round 40 — the failure mode p102's scaladoc documents — while
    * the best round (30: 73 mis ≈ 0.985 train accuracy) beats the
    * round-22 endpoint's 542 by 7×.
    */
  private val PcPocketRounds = 40

  /** POCKET-perceptron TRAIN (the p107 model; Gallant 1990 — the
    * classic non-separable fix): run the same order-free batch rounds
    * but RETURN the round whose weights misclassify the fewest
    * training documents (tie → latest round), not whichever endpoint
    * the budget stops on. Two properties make it the right device
    * here, both measured on sf0.1 (per-round training and held-out
    * accuracy):
    *
    *  - On non-separable corpora the raw batch trajectory oscillates
    *    (sf0.1: 73 ↔ 733 misclassifications round-to-round), so the
    *    endpoint is a lottery; the pocket minimum is stable and its
    *    training error is ≤ the raw form's BY CONSTRUCTION (w_22 is
    *    one of its candidates).
    *  - Weight AVERAGING — the other standard remedy — regresses
    *    held-out accuracy on this corpus (0.928 vs raw 0.936 at every
    *    measured burn-in): the trajectory's first ~13 rounds sit in an
    *    all-positive basin whose weights dominate any average that
    *    includes them. Selection sidesteps the basin entirely.
    *
    * Early stop, oracle-exact: a round with ZERO misclassifications is
    * a fixed point (the delta is empty, every later round is a no-op),
    * so the loop breaks there; the unrolled oracle runs its remaining
    * rounds as empty-delta no-ops and its latest-tie argmin lands on
    * the same weights. Everything stays bounded integers; per round
    * ONE heavy job (margins → mis → delta in a single plan, the error
    * count riding the delta aggregate's bias-bucket row count), plus
    * one extra round for the final candidate.
    */
  def perceptronTrainPocket(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = featsOf(docs)
      .join(labelsOf(docs), Seq("doc_id"))
      .localCheckpoint(eager = false)
    // the weight frame is MODEL-SIZED (≤B+1 buckets of two longs), so
    // it lives on the driver between rounds and ships as a broadcast
    // local relation into each round's plan — exactly the
    // centroid/codebook discipline. This makes each round cost ONE
    // driver action (the delta collect; margins → mis → delta fused in
    // a single plan, the error count riding the bias bucket's row
    // count), where the previous DataFrame-weights shape paid three
    // (delta checkpoint, count job, weight-update checkpoint) — and
    // with 40 rounds the per-action job floor, not the data, was the
    // measured cost cap of this entry. It also retires the
    // checkpoint-flattening workaround that shape needed (no
    // round-over-round plan nesting exists anymore). Identical integer
    // math round for round, so the unrolled oracle is untouched.
    val buckets = feats.select(col("b")).distinct()
      .collect().map(_.getLong(0)).sorted
    val w = collection.mutable.LinkedHashMap[Long, Long](
      buckets.map(_ -> 0L).toIndexedSeq: _*)
    var bestErr = Long.MaxValue
    var bestW = w.toSeq
    var fixed = false
    // round shape evaluated and kept as-is this round: a window-over-
    // doc_id variant (margin via window, no self-join) halves the
    // exchange count but ships the full FEATURE table through the
    // doc_id exchange every round (measured 6.4 → 72 MB shuffled per
    // rep at sf0.1) — guide §2.3 says shuffle fewer bytes first, and
    // the join shape moves doc-level aggregates, not feature rows. A
    // doc_id-partitioned .cache() of feats was also measured and
    // rejected (cache build/decompress cost 130+ s of CPU per rep and
    // AQE forgets cached-plan partitioning, so the exchanges stayed).
    for (t <- 1 to PcPocketRounds + 1 if !fixed) {
      val wDf = w.toSeq.toDF("b", "w")
      val margins = feats.join(broadcast(wDf), Seq("b"), "left")
        .groupBy(col("doc_id"), col("y"))
        .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
      val mis = margins.filter(col("y") * col("margin") <= 0)
      val delta = feats.join(mis.select(col("doc_id")), Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(col("y") * col("cnt")).as("dw"),
          count(lit(1)).as("nd"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // every misclassified document carries exactly one bias row
      // (b = -1), so the bias group's row count IS the error count
      val e = delta.find(_._1 == -1L).map(_._3).getOrElse(0L)
      if (t >= 2) {
        if (e <= bestErr) { bestErr = e; bestW = w.toSeq } // <=: tie → latest
        if (e == 0) fixed = true
      }
      if (!fixed && t <= PcPocketRounds)
        delta.foreach { case (b, dw, _) => w(b) = w.getOrElse(b, 0L) + dw }
    }
    bestW.toDF("b", "w")
  }

  /** Library SCORE entry — the deploy half: score ANY corpus (held-out
    * included) under a trained weight frame. ONE broadcast join + one
    * doc-keyed roll-up; unseen buckets score zero via the left join,
    * so a held-out document always gets a finite margin.
    */
  def perceptronScore(docs: DataFrame, weights: DataFrame): DataFrame =
    featsOf(docs).join(broadcast(weights), Seq("b"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * coalesce(col("w"), lit(0L))).as("margin"))
      .select(col("doc_id"), col("margin"),
        when(col("margin") > 0, lit(1L)).otherwise(lit(-1L)).as("pred"))

  /** Shared oracle blocks: features, labels, zero weights and the 22
    * unrolled training rounds — the p102 and p107 oracles differ only
    * in which weight CTE the final scoring pass reads.
    */
  private[operators] def perceptronCtes(nRounds: Int): String = {
    val stopList = PcStops.map(w => s"'$w'").mkString(", ")
    val rounds = (1 to nRounds).map { t =>
      val prevW = s"w${t - 1}"
      // AS MATERIALIZED: DuckDB inlines plain CTEs, so a chained
      // w_t → w_{t-1} reference would expand EXPONENTIALLY across 22
      // rounds (and re-open the parquet per expansion — the first run
      // died on file descriptors); materialization makes the unrolled
      // oracle linear in rounds, like the engine
      s"""m$t AS MATERIALIZED (
         |  SELECT f.doc_id, f.y,
         |         sum(f.cnt * coalesce(w.w, 0)) AS margin
         |  FROM f LEFT JOIN $prevW w USING (b) GROUP BY f.doc_id, f.y),
         |mis$t AS (SELECT doc_id FROM m$t WHERE y * margin <= 0),
         |d$t AS MATERIALIZED (
         |  SELECT f.b, CAST(sum(f.y * f.cnt) AS BIGINT) AS dw
         |  FROM f JOIN mis$t USING (doc_id) GROUP BY f.b),
         |w$t AS MATERIALIZED (
         |  SELECT w.b, w.w + coalesce(d.dw, 0) AS w
         |  FROM $prevW w LEFT JOIN d$t d USING (b))""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |labels AS (
       |  SELECT doc_id,
       |         CASE WHEN 50 * sum(CASE WHEN term IN ($stopList)
       |                                 THEN 1 ELSE 0 END) - count(*) >= 0
       |              THEN 1 ELSE -1 END AS y
       |  FROM toks GROUP BY doc_id),
       |f AS MATERIALIZED (
       |  SELECT h.doc_id, h.b, h.cnt, l.y
       |  FROM (SELECT doc_id,
       |               CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % $PcB
       |                 AS b,
       |               count(*) AS cnt
       |        FROM toks GROUP BY 1, 2
       |        UNION ALL
       |        SELECT doc_id, -1, 1 FROM documents) h
       |  JOIN labels l USING (doc_id)),
       |w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM f),
       |$rounds""".stripMargin
  }

  /** Final scoring pass against the weight CTE `wCte`. */
  private[operators] def perceptronScoreSql(wCte: String): String =
    s"""SELECT doc_id, CAST(y AS BIGINT) AS y,
       |       CAST(margin AS BIGINT) AS margin,
       |       CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       |       margin > 0 AND y = 1 OR margin <= 0 AND y = -1 AS correct
       |FROM (SELECT f.doc_id, f.y,
       |             sum(f.cnt * coalesce(w.w, 0)) AS margin
       |      FROM f LEFT JOIN $wCte w USING (b)
       |      GROUP BY f.doc_id, f.y)
       |ORDER BY doc_id""".stripMargin

  val perceptronOracle: String =
    s"""WITH ${perceptronCtes(PcRounds)}
       |${perceptronScoreSql(s"w$PcRounds")}""".stripMargin

  /** p107's oracle: the same unrolled rounds at the pocket budget,
    * plus an extra margins block for the final candidate, a per-round
    * error table, the latest-tie argmin, and the scored rows of the
    * winning round. Every m$t block is already materialized by the
    * round chain, so the selection tail is bookkeeping, not recompute.
    */
  val perceptronPocketOracle: String = {
    val r = PcPocketRounds
    val errUnion = (1 to r).map { t =>
      s"SELECT CAST($t AS INTEGER) AS t, " +
        s"(SELECT count(*) FROM m${t + 1} WHERE y * margin <= 0) AS e"
    }.mkString("\n       |  UNION ALL ")
    val scUnion = (1 to r).map { t =>
      s"SELECT CAST($t AS INTEGER) AS t, doc_id, y, margin FROM m${t + 1}"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH ${perceptronCtes(r)},
       |m${r + 1} AS MATERIALIZED (
       |  SELECT f.doc_id, f.y,
       |         sum(f.cnt * coalesce(w.w, 0)) AS margin
       |  FROM f LEFT JOIN w$r w USING (b) GROUP BY f.doc_id, f.y),
       |errs AS (
       |  $errUnion),
       |best AS (SELECT t FROM errs ORDER BY e ASC, t DESC LIMIT 1),
       |sc AS (
       |  $scUnion)
       |SELECT doc_id, CAST(y AS BIGINT) AS y,
       |       CAST(margin AS BIGINT) AS margin,
       |       CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       |       margin > 0 AND y = 1 OR margin <= 0 AND y = -1 AS correct
       |FROM sc JOIN best USING (t)
       |ORDER BY doc_id""".stripMargin
  }

  /** p107: the POCKET classifier's audit table — the p102 output shape
    * scored with [[perceptronTrainPocket]]'s best-round weights.
    * Registered separately (not replacing p102) so the raw and pocket
    * forms stay individually oracle-checked and comparable: the pocket
    * form's training accuracy is ≥ p102's by construction
    * (Batch9Spec pins it, plus held-out ≥ on the even/odd split).
    */
  def perceptronQualityPocket(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val w = perceptronTrainPocket(docs)
    perceptronScore(docs, w)
      .join(labelsOf(docs), Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("margin"), col("pred"))
      .withColumn("correct", col("pred") === col("y"))
      .orderBy(col("doc_id"))
  }

  /** Docs per curriculum phase of the registered query. */
  private val PhaseSize = 100

  /** p103: CURRICULUM phase assignment — order the corpus by an exact
    * integer difficulty proxy (lexical diversity, floor-quantized ppm:
    * high-diversity "clean prose" first, repetitive tail last) and cut
    * the global order into fixed-size training phases. Curriculum
    * ordering is the anti-shuffle of release engineering: p75
    * deliberately destroys order with a seeded hash, this op
    * deliberately IMPOSES one — both end in the same shard/phase
    * machinery, which is why they share the TwoLevel device.
    *
    * Scale shape: the difficulty key is one doc-keyed aggregate; the
    * global rank is TwoLevel's two-level scheme sharded on the
    * quantized key itself (monotone along the order BY construction,
    * 97 bounded shards, NO single-partition sort anywhere — the
    * Engine.curate budget device); phase = rank DIV size is map-side.
    * All-integer, so the ordering is bit-stable across engines.
    */
  def curriculumPhases(s: SparkSession, d: String): DataFrame =
    curriculumPhasesOf(documents(s, d), PhaseSize).orderBy(col("doc_id"))

  /** Library entry behind p103: curriculum phases of any (doc_id,
    * text) frame at any phase size. Sort-free.
    */
  def curriculumPhasesOf(docs: DataFrame, phaseSize: Int): DataFrame = {
    val diff = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"))
      .agg(expr("CAST(1000000 * count(DISTINCT term) DIV count(term) " +
                "AS BIGINT)").as("diversity_q"))
    TwoLevel.withGlobalRankBy(diff,
        shardExpr = expr("diversity_q DIV 10417"), // ≤ 97 shards over [0, 1e6]
        order = Seq(col("diversity_q").desc, col("doc_id")),
        outCol = "rank", descending = true)
      .select(col("doc_id"), col("diversity_q"), col("rank"),
        expr(s"CAST((rank - 1) DIV $phaseSize AS INT)").as("phase"))
  }

  val curriculumOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |diff AS (
       |  SELECT doc_id,
       |         CAST(1000000 * count(DISTINCT term) // count(*) AS BIGINT)
       |           AS diversity_q
       |  FROM t GROUP BY doc_id),
       |r AS (
       |  SELECT doc_id, diversity_q,
       |         CAST(row_number() OVER (ORDER BY diversity_q DESC, doc_id)
       |              AS BIGINT) AS rank
       |  FROM diff)
       |SELECT doc_id, diversity_q, rank,
       |       CAST((rank - 1) // $PhaseSize AS INTEGER) AS phase
       |FROM r ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p102_perceptron_quality" -> (perceptronQuality _),
    "p103_curriculum" -> (curriculumPhases _),
    "p107_perceptron_pocket" -> (perceptronQualityPocket _),
  )

  val oracles: Map[String, String] = Map(
    "p102_perceptron_quality" -> perceptronOracle,
    "p103_curriculum" -> curriculumOracle,
    "p107_perceptron_pocket" -> perceptronPocketOracle,
  )
}
