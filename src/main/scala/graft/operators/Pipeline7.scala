package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 7: the tokenizer-application and
  * corpus-quality-model stages that sit between curation (batches 1–6)
  * and the training loop — BPE encoding with a fixed merge table,
  * n-gram language-model perplexity scoring, and DSIR-style importance
  * weighting against a target domain.
  */
object Pipeline7 {

  // ---- BPE encoding with a fixed merge table (p70) ----

  /** The published merge table of the registered query: a fixed,
    * ordered list of BPE merge rules, exactly the artifact a trained
    * tokenizer ships (GPT-2's `merges.txt` is this table at 50k rules).
    * Training produces it once ([[Pipeline5.bpeMerges]], p69); encoding
    * applies it everywhere, so the registered encode uses a FIXED table
    * — corpus-independent, the way a real tokenizer is deployed — and a
    * spec pins that encoding with a trained table gives the same result
    * as the sequential reference encoder. Rules chain deliberately
    * (a+b→ab, t+ab→tab, tab+le→table) and include a same-symbol rule
    * (g+g) to keep the left-to-right non-overlap semantics honest.
    */
  val BpeRules: Seq[(String, String)] = Seq(
    "a" -> "b", "t" -> "ab", "l" -> "e", "tab" -> "le", "g" -> "g",
    "h" -> "a", "s" -> "h", "ha" -> "sh", "r" -> "o", "ro" -> "w")

  /** One BPE merge pass: fuse every left-to-right non-overlapping
    * (l, r) adjacency in `arr` into the single symbol l+r. The fold
    * carry re-checks the fused symbol, which reproduces the sequential
    * algorithm's continue-past-the-merge scan exactly (the p69 device;
    * the same-symbol-run case is spec-pinned there and here).
    */
  private def fuseRule(l: String, r: String, arr: Column): Column =
    aggregate(arr, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** Encode every document with an ordered BPE merge table: per word,
    * start from the character split and apply each rule in rank order
    * as one fold pass. Tokens are emitted space-joined (symbols are
    * substrings of space-free words, so the joint is unambiguous).
    *
    * Scale shape: map-only — the merge table is a plan-time constant
    * (rules become literal fold expressions, the broadcast-model
    * contract taken to its limit: the model ships inside the plan), so
    * encoding shuffles nothing and pipelines into whatever consumes
    * the tokens (p31 packing, p53 id-encoding). This is the shape that
    * matters at 100 TB: tokenization is the single widest map of a
    * training-data pipeline and must never be the shuffle.
    */
  def bpeEncode(docs: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    val enc = transform(split(col("text"), " "), w => {
      val chars: Column = split(w, "")
      val merged = rules.foldLeft(chars) { case (a, (l, r)) => fuseRule(l, r, a) }
      array_join(merged, " ")
    })
    docs.select(col("doc_id"), array_join(enc, " ").as("bpe_text"))
      .select(col("doc_id"),
        size(split(col("bpe_text"), " ")).as("n_tokens"),
        col("bpe_text"))
  }

  /** p70: encode `documents` with the fixed merge table. The orderBy is
    * the oracle-hash contract; the library entry ([[bpeEncode]]) is
    * sort-free.
    */
  def bpeEncodeQuery(s: SparkSession, d: String): DataFrame =
    bpeEncode(documents(s, d), BpeRules).orderBy(col("doc_id"))

  /** The oracle applies the SAME rule table through a DIFFERENT device:
    * symbols are wrapped as chr(1)·sym·chr(2) and each rule is one SQL
    * `replace` of the wrapped adjacency — string replace is
    * left-to-right non-overlapping and resumes AFTER the replacement,
    * which is exactly the fold-carry semantics, while the wrapping
    * makes partial-symbol matches impossible (a spec pins that the
    * corpus contains neither control char). Independent mechanisms
    * agreeing is the point of the differential.
    */
  val bpeEncodeOracle: String = {
    val wrapped = BpeRules.foldLeft(
      "array_to_string(list_transform(regexp_split_to_array(w, ''), " +
        "c -> chr(1)||c||chr(2)), '')") { case (inner, (l, r)) =>
      s"replace($inner, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), " +
        s"chr(1)||'$l$r'||chr(2))"
    }
    s"""WITH enc AS (
       |  SELECT doc_id,
       |         array_to_string(list_transform(string_split(text, ' '),
       |           w -> rtrim(replace(replace($wrapped,
       |                  chr(1), ''), chr(2), ' '))), ' ') AS bpe_text
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(string_split(bpe_text, ' ')) AS INTEGER) AS n_tokens,
       |       bpe_text
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  // ---- Bigram-LM perplexity scoring (p71) ----

  /** Add-α smoothing constant of the registered query (a plan-time
    * literal on both sides of the differential).
    */
  private[graft] val LmAlpha = 0.5

  /** THE smoothing formula, shared by the batch scorer and the
    * streaming gate so they cannot drift: −ln((c12+α)/(c1+αV)) with
    * null counts (unseen bigram / unseen context) coalesced to 0.
    */
  private[graft] def smoothedNll(c12: Column, c1: Column, vocabV: Long): Column =
    -log((coalesce(c12, lit(0L)) + LmAlpha) /
         (coalesce(c1, lit(0L)) + lit(vocabV) * LmAlpha))

  /** Positional word bigrams of every document, built map-side: one
    * `transform` over index positions then an explode — never a
    * self-join on (doc_id, pos), which would shuffle the corpus twice
    * to recover adjacency the row already holds.
    */
  private[operators] def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
                      element_at(col("ws"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))

  /** p71: score every document by its per-bigram cross-entropy under an
    * add-α-smoothed word-bigram language model trained on the corpus —
    * the CCNet/KenLM-style perplexity filter, the single most standard
    * quality gate of LLM pretraining pipelines (boilerplate and
    * keyboard-mash score high; fluent in-domain prose scores low).
    *
    * Model: P(w2|w1) = (c(w1,w2)+α) / (c(w1)+α·V), c(w1) the CONTEXT
    * count (Σ_w2 c(w1,w2), so rows never leak probability mass to
    * doc-final positions), V the corpus vocabulary size. Score:
    * xent(d) = −(1/n) Σ ln P over d's bigrams.
    *
    * Scale shape: bigram extraction is map-side ([[bigramsOf]]); the
    * model is two keyed aggregations over the BIGRAM table (vocab²-
    * bounded, Heaps-sublinear in the corpus — c(w1) derives from c12,
    * never re-scans the corpus) plus a 1-row vocabulary count attached
    * by broadcast (the p68 device). Scoring is one (w1,w2)-keyed join
    * of the bigram stream against the model and one doc_id-keyed
    * roll-up. When the model fits an executor (it usually does — vocab²
    * is millions of rows, not corpus-sized), hint `broadcast(model)`
    * and scoring becomes map-side too; the registered form keeps the
    * shuffle join, the shape that cannot OOM.
    *
    * Float contract: each ln sits 9+ orders above the 1-ulp libm
    * disagreement (the p45 analysis); the per-doc sum is order-free to
    * ~1e-13 while the spec measures the unrounded scores' distance to
    * their round(·,4) boundary at ≥1e-7 — margins, measured not
    * assumed. Scored-on-train means every bigram is in the model, so
    * the inner score join drops nothing (spec-pinned); scoring a
    * HELD-OUT corpus needs the left-join + α/(c1+αV) unseen fallback,
    * which [[perplexityScore]] provides.
    */
  def perplexity(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // checkpoint: bg feeds both model training and scoring; hashed
    // bigram rows materialize once (the shingleNovelty contract)
    val bg = bigramsOf(docs).localCheckpoint(eager = false)
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val model = c12.join(c1, "w1")
    val per = bg.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        (-log((col("c12") + LmAlpha) / (col("c1") + col("v") * LmAlpha))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("s"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // + 0.0: the p72 signed-zero normalizer, applied here too —
        // xent is provably positive on-train, but the guard is free
        coalesce(round(col("s") / col("n_bigrams"), 4) + lit(0.0),
          lit(0.0)).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Library scoring entry: score `docs` under a model trained
    * elsewhere ([[lmTrain]]) — left join with the α/(c1+αV) fallback
    * for unseen bigrams (c12=0) and unseen contexts (c1=0), so a
    * held-out document always gets a finite score. Sort-free.
    */
  def perplexityScore(docs: DataFrame, model: DataFrame, vocabV: Long): DataFrame =
    bigramsOf(docs)
      .join(model.select(col("w1"), col("w2"), col("c12")), Seq("w1", "w2"), "left")
      // context counts join SEPARATELY on w1: an unseen bigram whose
      // CONTEXT is known must smooth against c(w1), not against 0 —
      // reading c1 off the (absent) bigram row would overstate P
      .join(model.groupBy(col("w1")).agg(max(col("c1")).as("c1")), Seq("w1"), "left")
      .select(col("doc_id"), smoothedNll(col("c12"), col("c1"), vocabV).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           (sum(col("nll")) / count(lit(1))).as("xent"))

  /** Train the bigram model of [[perplexityScore]]: (w1, w2, c12, c1). */
  def lmTrain(docs: DataFrame): DataFrame = {
    val c12 = bigramsOf(docs).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    c12.join(c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1")), "w1")
  }

  val perplexityOracle: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT doc_id,
       |              unnest(list_transform(range(1, len(w)),
       |                i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
       |       FROM ws WHERE len(w) >= 2),
       |bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
       |v AS (SELECT count(DISTINCT tok) AS v FROM
       |        (SELECT unnest(w) AS tok FROM ws)),
       |model AS (SELECT c12.w1, c12.w2, c12.c12, c1.c1
       |          FROM c12 JOIN c1 USING (w1)),
       |sc AS (SELECT doc_id,
       |              -ln((c12 + $LmAlpha) / (c1 + $LmAlpha * v)) AS nll
       |       FROM bgf JOIN model USING (w1, w2) CROSS JOIN v),
       |per AS (SELECT doc_id, count(*) AS n_bigrams, sum(nll) AS s
       |        FROM sc GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(n_bigrams, 0) AS n_bigrams,
       |       coalesce(round(s / n_bigrams, 4) + 0.0, CAST(0 AS DOUBLE)) AS xent
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- DSIR importance weighting (p72) ----

  /** Hashed-feature space size and smoothing of the registered query.
    * 1024 buckets is deliberately small: the POINT of DSIR's hashed
    * n-gram device is that the model is B-bounded no matter the corpus
    * — at 100 TB the ratio table is still 1024 rows.
    */
  private val DsirBuckets = 1024
  private val DsirAlpha = 0.5

  /** The cross-engine feature hash: md5's 7-hex-char prefix mod B —
    * the p18/p67 device, bit-identical in Spark and DuckDB.
    */
  private def dsirBucket(tok: Column): Column =
    pmod(conv(substring(md5(tok), 1, 7), 16, 10).cast("long"),
      lit(DsirBuckets.toLong))

  /** p72: DSIR-style importance weight of every document against a
    * target domain (lang='en' here): per token, the log-ratio of the
    * add-α-smoothed hashed-unigram probability under the TARGET
    * distribution vs the SOURCE (whole-pool) distribution, averaged
    * over the document — documents whose token distribution resembles
    * the target get high weight, the importance-resampling signal for
    * domain-targeted pretraining mixes (Xie et al.'s DSIR, re-expressed
    * relationally).
    *
    * Scale shape: tokenize + hash are map-side; the two feature-count
    * aggregations shuffle into a table bounded by B=1024 rows
    * regardless of corpus size; total-count normalizers ride as
    * broadcast 1-row frames (the p68 device); and because the ratio
    * model IS B-bounded, the scoring join broadcasts — so scoring is
    * map-side and the only corpus-keyed shuffle of the whole operator
    * is the final per-doc roll-up. This is the DSIR trick made
    * physical: hashing makes the model small enough that applying it
    * never shuffles the corpus.
    */
  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightsOf(documents(s, d), col("lang") === "en").orderBy(col("doc_id"))

  /** Library entry: DSIR weights of `docs` against an arbitrary
    * target-membership predicate over the document row. Sort-free.
    */
  def dsirWeightsOf(docs: DataFrame, isTarget: Column): DataFrame = {
    // checkpoint: toks feeds both count sides and the scoring pass
    val toks = docs
      .select(col("doc_id"), isTarget.as("is_t"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("is_t"), dsirBucket(col("tok")).as("b"))
      .localCheckpoint(eager = false)
    val tgt = toks.filter(col("is_t"))
    val ct = tgt.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val cs = toks.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val nt = tgt.agg(count(lit(1)).as("nt"))
    val ns = toks.agg(count(lit(1)).as("ns"))
    val denom = lit(DsirAlpha * DsirBuckets)
    val ratio = cs.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(ns))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + DsirAlpha) / (col("nt") + denom)) -
         log((col("cs") + DsirAlpha) / (col("ns") + denom))).as("lr"))
    // every token's bucket exists on the source side by construction,
    // so the broadcast inner join drops nothing (spec-pinned)
    val per = toks.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("sw"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        // + 0.0 canonicalizes IEEE -0.0 → +0.0: a mean log-ratio that
        // rounds to zero must hash identically in both engines (the
        // r7 p72 red row was a single sign-bit diff at value 0)
        coalesce(round(col("sw") / col("n_tokens"), 4) + lit(0.0),
          lit(0.0)).as("logw"))
  }

  val dsirWeightsOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |         CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 7)
       |              AS BIGINT) % $DsirBuckets AS b
       |  FROM documents),
       |ct AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
       |cs AS (SELECT b, count(*) AS cs FROM toks GROUP BY b),
       |nt AS (SELECT count(*) AS nt FROM toks WHERE lang = 'en'),
       |ns AS (SELECT count(*) AS ns FROM toks),
       |ratio AS (SELECT b,
       |            ln((coalesce(ct, 0) + $DsirAlpha) / (nt + $DsirAlpha * $DsirBuckets)) -
       |            ln((cs + $DsirAlpha) / (ns + $DsirAlpha * $DsirBuckets)) AS lr
       |          FROM cs LEFT JOIN ct USING (b) CROSS JOIN nt CROSS JOIN ns),
       |per AS (SELECT doc_id, count(*) AS n_tokens, sum(lr) AS sw
       |        FROM toks JOIN ratio USING (b) GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(n_tokens, 0) AS n_tokens,
       |       coalesce(round(sw / n_tokens, 4) + 0.0, CAST(0 AS DOUBLE)) AS logw
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- Semantic dedup over IVF cells (p73) ----

  /** Similarity threshold of the registered query. The corpus
    * embeddings are near-random (within-cell cosines top out near 0.49
    * at sf0.01), so 0.4 is a demo value that makes the operator
    * non-trivial on the test tables — geometry-parametric exactly like
    * the PQ demo codebook; production corpora with real near-dups run
    * τ≈0.95+.
    */
  private val SemTau = 0.4

  /** p73: SemDeDup — semantic deduplication via the IVF cell
    * structure: assign every embedding to its max-cosine cell (the ONE
    * assignment definition shared with p13/p41), then within each cell
    * drop any vector that has a LOWER-id cell-mate at cosine ≥ τ.
    * Output: (vec_id, cell, kept) for the whole corpus.
    *
    * Semantics: pairwise-witness dedup — a vector is dropped iff a
    * lower-id witness sits within τ in its cell, whether or not that
    * witness itself survives. This gives the guarantee that matters
    * (no two KEPT cell-mates are within τ of each other — spec-pinned)
    * without a transitive closure; when full ε-connected-component
    * resolution is wanted, feed the τ-pairs to p20's label propagation
    * — the composition, not a new operator.
    *
    * Scale shape: cell assignment is map-only against the broadcast
    * centroid model; the candidate-pair join is keyed by cell, so the
    * quadratic blow-up is bounded per cell (nCells grows with the
    * corpus and the p44 balance report sizes it — the SemDeDup paper's
    * own scaling argument); the witness set shuffles as bare ids. No
    * all-pairs stage exists anywhere in the plan.
    */
  /** Library entry: SemDeDup `emb` against a given centroid model and
    * threshold. Sort-free; the registered query orders for the oracle.
    */
  def semDedupOf(emb: DataFrame, cents: Array[(Int, Seq[Float])],
                 tau: Double): DataFrame = {
    // checkpoint: the assignment feeds both join sides and the output
    val assigned = Similarity.assignCells(cents, emb)
      .localCheckpoint(eager = false)
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .filter(graft.functions.VectorOps.cosine(
        col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("hit").isNull.as("kept"))
  }

  def semDedup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    semDedupOf(emb, Similarity.seedCentroids(emb, 8), SemTau)
      .orderBy(col("vec_id"))
  }

  val semDedupOracle: String = {
    def duckDot(a: String, b: String) =
      s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
    def duckCos(a: String, b: String) =
      s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"
    val ccos = duckCos("e.embedding", "c.ce")
    val pcos = duckCos("a.embedding", "b.embedding")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)
       |SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       |       NOT EXISTS (SELECT 1 FROM assign b
       |                   WHERE b.cell = a.cell AND b.vec_id < a.vec_id
       |                     AND $pcos >= $SemTau) AS kept
       |FROM assign a ORDER BY a.vec_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p70_bpe_encode", bpeEncodeQuery, Some(bpeEncodeOracle)),
    QuerySpec("p71_perplexity", perplexity, Some(perplexityOracle)),
    QuerySpec("p72_dsir_weights", dsirWeights, Some(dsirWeightsOracle)),
    QuerySpec("p73_semdedup", semDedup, Some(semDedupOracle)),
  )
}
