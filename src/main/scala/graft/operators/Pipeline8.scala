package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 8: the corpus-release stages — rule-based
  * quality filtering with per-rule verdicts (the Gopher/C4 filter
  * family), the deterministic shuffle-and-shard assignment that turns a
  * curated corpus into fixed-size training shards, and the cross-source
  * near-dup overlap matrix that tells a curator which sources
  * re-publish each other.
  *
  * Oracle-parity rules as established for this repo: every ratio is an
  * exact-integer numerator over an exact-integer denominator divided
  * once (both engines produce the identical IEEE double, so threshold
  * verdicts can never straddle), randomized orders are derandomized
  * through md5, and every output is fully ordered.
  */
object Pipeline8 {

  // ---- Gopher-style quality-rule filter (p74) ----

  /** Stopword list of the registered filter: tiny and plan-time, like
    * every model constant in this repo. Gopher's rule uses English
    * function words; the corpus vocabulary contains these five.
    */
  private val StopWords = Seq("the", "a", "of", "and", "to")

  /** Rule thresholds of the registered query, chosen from the measured
    * sf0.01 distributions so every rule discriminates (each one fails
    * a real slice of the corpus, none annihilates it): word count
    * 5%/95% quantiles are 16/94, mean word length 4.17/4.84, stopword
    * ratio 25% quantile 0.040, top-word fraction 95% quantile 0.160,
    * distinct-token ratio 5% quantile 0.312.
    */
  private val WcLo = 20;     private val WcHi = 90
  private val MwlLo = 4.2;   private val MwlHi = 4.8
  private val StopMin = 0.02
  private val TopFracMax = 0.15
  private val DistinctMin = 0.32

  /** p74: Gopher-style document quality filter with named per-rule
    * verdicts — word-count band, mean-word-length band, minimum
    * stopword ratio, maximum top-word fraction (the repetition rule),
    * and minimum distinct-token ratio (the diversity rule) — plus the
    * composite verdict and the FIRST failing rule as a `reason` label.
    * Real curation pipelines keep the per-rule bits, not just the
    * verdict: the reason histogram is how thresholds get audited, and
    * re-tuning one rule must not re-run the others.
    *
    * Scale shape: strictly map-only — every statistic is computed from
    * the document's own token array with higher-order functions (the
    * top-word count enumerates distinct tokens × occurrences inside
    * one row, bounded by document length, never a corpus shuffle), so
    * the filter pipelines into the scan and composes with any
    * downstream operator at zero shuffle cost. This is the shape a
    * quality gate must have at 100 TB: it runs embarrassingly parallel
    * over file splits.
    *
    * Float contract: each ratio is exact-int / exact-int divided once
    * — both engines round to the same double, so comparisons against
    * the same literal threshold agree bitwise. Mean word length uses
    * (n_chars − wc + 1)/wc, exact for single-space-joined text (the
    * no-double-space corpus precondition is already spec-pinned for
    * the p70 oracle in Batch8Spec).
    */
  /** The five named rule verdicts as (name, predicate-over-`text`)
    * pairs — one definition feeding the per-rule report (p74), the
    * composite release gate (p77), and any caller-side filter.
    */
  private def ruleVerdicts: Seq[(String, Column)] = {
    val w = split(col("text"), " ")
    val wc = size(w)
    val stopArr = array(StopWords.map(lit): _*)
    val mwl = (length(col("text")) - wc + 1) / wc
    val stopRatio = size(filter(w, x => array_contains(stopArr, x))) / wc
    val topFrac = array_max(transform(array_distinct(w),
      x => size(filter(w, y => y === x)))) / wc
    val distinctRatio = size(array_distinct(w)) / wc
    Seq("r_wordcount" -> (wc >= WcLo && wc <= WcHi),
        "r_wordlen"   -> (mwl >= MwlLo && mwl <= MwlHi),
        "r_stopword"  -> (stopRatio >= StopMin),
        "r_repetition" -> (topFrac <= TopFracMax),
        "r_diversity" -> (distinctRatio >= DistinctMin))
  }

  /** The composite gate: all five rules pass. Map-only over `text`. */
  def qualityPass: Column = ruleVerdicts.map(_._2).reduce(_ && _)

  def qualityRulesOf(docs: DataFrame): DataFrame = {
    val wc = size(split(col("text"), " "))
    docs.select(col("doc_id") +: wc.as("n_words") +:
        ruleVerdicts.map { case (n, c) => c.as(n) }: _*)
      .withColumn("pass",
        col("r_wordcount") && col("r_wordlen") && col("r_stopword") &&
          col("r_repetition") && col("r_diversity"))
      .withColumn("reason",
        when(!col("r_wordcount"), "word_count")
          .when(!col("r_wordlen"), "word_len")
          .when(!col("r_stopword"), "stopword")
          .when(!col("r_repetition"), "repetition")
          .when(!col("r_diversity"), "diversity")
          .otherwise("ok"))
  }

  def qualityRules(s: SparkSession, d: String): DataFrame =
    qualityRulesOf(documents(s, d)).orderBy(col("doc_id"))

  /** The quality-verdict CTE chain (s → m → v, ending in per-rule
    * booleans), shared by the p74 oracle and the p77 release oracle.
    */
  private[operators] val qualityCtes: String = {
    val stopList = StopWords.map(sw => s"'$sw'").mkString(", ")
    s"""s AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w,
       |         len(string_split(text, ' ')) AS wc
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, wc,
       |         (len(text) - wc + 1) / wc AS mwl,
       |         len(list_filter(w, x -> list_contains([$stopList], x))) / wc
       |           AS stop_ratio,
       |         list_max(list_transform(list_distinct(w),
       |           x -> len(list_filter(w, y -> y = x)))) / wc AS top_frac,
       |         len(list_distinct(w)) / wc AS distinct_ratio
       |  FROM s),
       |v AS (
       |  SELECT doc_id, CAST(wc AS INTEGER) AS n_words,
       |         wc BETWEEN $WcLo AND $WcHi AS r_wordcount,
       |         mwl >= $MwlLo AND mwl <= $MwlHi AS r_wordlen,
       |         stop_ratio >= $StopMin AS r_stopword,
       |         top_frac <= $TopFracMax AS r_repetition,
       |         distinct_ratio >= $DistinctMin AS r_diversity
       |  FROM m)""".stripMargin
  }

  val qualityRulesOracle: String =
    s"""WITH $qualityCtes
       |SELECT doc_id, n_words, r_wordcount, r_wordlen, r_stopword,
       |       r_repetition, r_diversity,
       |       r_wordcount AND r_wordlen AND r_stopword AND r_repetition
       |         AND r_diversity AS pass,
       |       CASE WHEN NOT r_wordcount THEN 'word_count'
       |            WHEN NOT r_wordlen THEN 'word_len'
       |            WHEN NOT r_stopword THEN 'stopword'
       |            WHEN NOT r_repetition THEN 'repetition'
       |            WHEN NOT r_diversity THEN 'diversity'
       |            ELSE 'ok' END AS reason
       |FROM v ORDER BY doc_id""".stripMargin

  // ---- Deterministic shuffle-and-shard (p75) ----

  /** Shard seed and size of the registered query. The seed is part of
    * the release recipe: re-running with the same seed reproduces the
    * exact shard assignment (resumable publishing), a different seed
    * gives an independent permutation.
    */
  private val ShardSeed = "graft-shard-7"
  private val ShardSize = 64

  /** Deterministic seeded shuffle + fixed-size shard assignment: every
    * row gets `__k = md5(seed:id)` (a seeded pseudo-random but fully
    * reproducible sort key), the corpus is totally ordered by it, and
    * shard i holds global positions [i·shardSize, (i+1)·shardSize) of
    * that order — the writer stage that turns a curated corpus into
    * training shards whose contents are a uniform random sample and
    * whose sizes are exactly fixed (trainer data loaders want both).
    *
    * Scale shape: the total order is NOT a global single-partition
    * sort — [[TwoLevel.withGlobalRankBy]] shards the window by the
    * key's first hex byte (monotone in the key order by construction:
    * lowercase-hex lexicographic order equals the numeric order of any
    * fixed-length prefix), runs per-shard windows in parallel, and
    * composes with a broadcast 256-row offset table. md5 keys are
    * uniform, so the 256 window shards are balanced no matter how
    * skewed the input ids are. Output is also independent of the input
    * partitioning — the global rank is a pure function of the key set
    * (InvarianceSpec pins partition-count invariance for the TwoLevel
    * device).
    *
    * Returns `docs` plus `shard` (int) and `__rn` (the 1-based global
    * position — callers that only need the assignment can drop it).
    */
  def seededShards(docs: DataFrame, idCol: String, shardSize: Int,
                   seed: String): DataFrame =
    TwoLevel.withGlobalRankBy(
        docs.withColumn("__k",
          md5(concat(lit(seed + ":"), col(idCol).cast("string")))),
        shardExpr = conv(substring(col("__k"), 1, 2), 16, 10).cast("long"),
        order = Seq(col("__k"), col(idCol)),
        outCol = "__rn")
      .withColumn("shard", expr(s"CAST((__rn - 1) DIV $shardSize AS INT)"))
      .drop("__k")

  /** p75: the shard MANIFEST of the registered release recipe — one
    * row per shard with its document count, token count, id checksum
    * and key range. The manifest is what a publisher actually checks
    * in next to the shards: it proves completeness (counts and
    * checksums fold over ALL rows) and lets a resumed run verify
    * untouched shards without re-reading them.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    seededShardManifest(documents(s, d), ShardSize, ShardSeed)

  /** Library entry: manifest of [[seededShards]] over any doc frame. */
  def seededShardManifest(docs: DataFrame, shardSize: Int,
                          seed: String): DataFrame = {
    val keyed = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"))
      .withColumn("__k",
        md5(concat(lit(seed + ":"), col("doc_id").cast("string"))))
    TwoLevel.withGlobalRankBy(keyed,
        shardExpr = conv(substring(col("__k"), 1, 2), 16, 10).cast("long"),
        order = Seq(col("__k"), col("doc_id")),
        outCol = "__rn")
      .withColumn("shard", expr(s"CAST((__rn - 1) DIV $shardSize AS INT)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).cast("long").as("n_tokens"),
           sum(col("doc_id")).as("id_sum"),
           min(col("__k")).as("lo_key"),
           max(col("__k")).as("hi_key"))
      .orderBy(col("shard"))
  }

  /** The manifest CTE tail (key → rank → per-shard roll-up) over any
    * (doc_id, text) source CTE — shared by the p75 and p77 oracles.
    */
  private def shardManifestSql(src: String): String =
    s"""k AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |         md5('$ShardSeed:' || doc_id) AS k
       |  FROM $src),
       |r AS (
       |  SELECT doc_id, n_words, k,
       |         row_number() OVER (ORDER BY k, doc_id) AS rn
       |  FROM k)
       |SELECT CAST((rn - 1) // $ShardSize AS INTEGER) AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       min(k) AS lo_key, max(k) AS hi_key
       |FROM r
       |GROUP BY shard ORDER BY shard""".stripMargin

  val shardManifestOracle: String =
    s"WITH ${shardManifestSql("documents")}"

  // ---- Composed release recipe (p77) ----

  /** p77: the release recipe as ONE oracle-checked composition —
    * quality gate ([[qualityPass]], map-only) → exact dedup (keep the
    * minimum doc id per identical text, the p01 semantics) → seeded
    * shard manifest ([[seededShardManifest]]). This is the "switch to
    * this library" proof for the publishing path: the three stages
    * compose into a single declarative plan (no materialization
    * between them — Catalyst sees gate, dedup and manifest at once and
    * pipelines the gate into the scan), and the composition itself is
    * hash-checked against DuckDB running the same three stages as
    * chained CTEs.
    *
    * Scale shape: gate is map-only; dedup is one text-keyed shuffle
    * (at corpus scale, group by a fingerprint first — p02 — so the
    * shuffle carries 16-byte keys; the registered form keeps full-text
    * keys for exact p01 parity); the manifest is the p75 two-level
    * device. Nothing global, nothing driver-side.
    */
  def releaseManifest(s: SparkSession, d: String): DataFrame = {
    val survivors = documents(s, d)
      .filter(qualityPass)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    seededShardManifest(survivors, ShardSize, ShardSeed)
  }

  val releaseManifestOracle: String =
    s"""WITH $qualityCtes,
       |q AS (SELECT doc_id FROM v
       |      WHERE r_wordcount AND r_wordlen AND r_stopword
       |        AND r_repetition AND r_diversity),
       |dd AS (SELECT min(d.doc_id) AS doc_id, d.text
       |       FROM documents d JOIN q USING (doc_id)
       |       GROUP BY d.text),
       |${shardManifestSql("dd")}""".stripMargin

  // ---- Cross-source near-dup overlap matrix (p76) ----

  /** p76: which sources duplicate each other — the verified MinHash-LSH
    * near-dup pairs (p04's exact candidate set, same parameters) rolled
    * up into an unordered source-pair matrix. This is the curator's
    * mirror-detection report: a hot off-diagonal cell means two feeds
    * re-publish the same content and one of them should be dropped
    * before token budgets are allocated; the diagonal measures
    * within-source duplication that survives exact dedup.
    *
    * Scale shape: pair generation is the p04 bucket group-by (shuffle
    * O(docs × bands), never O(n²)); attaching sources is two joins
    * keyed by doc id against a two-column projection of the corpus
    * (shuffle carries (id, source) pairs only — column pruning reaches
    * the scan); the final roll-up is bounded by sources² rows. The
    * least/greatest canonicalization folds (a,b) and (b,a) into one
    * cell so the matrix is upper-triangular by construction.
    */
  def crossSourceOverlap(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    crossSourceOverlapOf(docs, Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = PipelineQueries.ShingleN, numHashes = 16, bands = 4))
  }

  /** The overlap matrix of ANY `(d1, d2)` pair relation under ANY
    * `(doc_id, source)` corpus — split from the registered entry so the
    * live release card (p134) can feed it the store-derived pair
    * relation ([[Dedup.lshPairsFromStore]]) instead of re-running the
    * from-scratch pipeline per refresh.
    */
  def crossSourceOverlapOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val srcA = docs.select(col("doc_id").as("d1"), col("source").as("src1"))
    val srcB = docs.select(col("doc_id").as("d2"), col("source").as("src2"))
    pairs.join(srcA, "d1").join(srcB, "d2")
      .select(least(col("src1"), col("src2")).as("source_a"),
              greatest(col("src1"), col("src2")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val crossSourceOverlapOracle: String =
    s"""WITH ${PipelineQueries.lshPairCtes}
       |SELECT least(sa.source, sb.source) AS source_a,
       |       greatest(sa.source, sb.source) AS source_b,
       |       count(*) AS n_pairs
       |FROM prs
       |JOIN documents sa ON prs.d1 = sa.doc_id
       |JOIN documents sb ON prs.d2 = sb.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- Audio decode + fingerprint near-dup (p78/p79) ----

  /** Shared SQL fragments for the audio oracles: the generator's
    * per-doc synth constants and the sample formula, inlined so DuckDB
    * re-derives what the Scala decoder parsed from RIFF bytes — the
    * raster-oracle discipline ([[PipelineQueries]] `rasterDocsCte`)
    * applied to the second modality.
    */
  private[operators] val waveDocsCte =
    """wd AS (SELECT doc_id,
      |              16 + (doc_id % 8) * 4 AS period,
      |              3 * (doc_id % 16) + ((doc_id // 80) % 2) AS phase,
      |              256 + (doc_id % 5) * 64 AS n,
      |              1 + (doc_id % 16) AS k
      |       FROM documents)""".stripMargin

  /** Sample stream: s(t) plus the previous sample sp (for crossings),
    * re-derived from the formula rather than lag() so the CTE stays a
    * pure per-row map.
    */
  private[operators] def waveSampleSql(t: String): String =
    s"""(((13 * ($t) + phase) % period) * 8 - period * 4) *
       |                (1 + ((($t) * k) // n) % 4)""".stripMargin

  private[operators] val waveSampleCte =
    s"""sm AS (SELECT doc_id, n, t,
       |              ${waveSampleSql("t")} AS s,
       |              CASE WHEN t >= 1 THEN
       |                ${waveSampleSql("t - 1")} END AS sp
       |       FROM wd, unnest(range(0, n)) tt(t))""".stripMargin

  /** Windowed measures + the 60-bit four-profile fingerprint (exact
    * mirror of Multimodal.waveFingerprint). Window = (t·16) DIV n is
    * exact: every n is a multiple of 64, so the 16 windows are equal.
    */
  private[operators] val waveFpCtes =
    """en AS (SELECT doc_id, (t * 16) // n AS w,
      |              sum(abs(s)) AS e, max(abs(s)) AS m,
      |              sum(CASE WHEN sp IS NOT NULL AND sp * s < 0
      |                       THEN 1 ELSE 0 END) AS z,
      |              sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS p
      |       FROM sm GROUP BY doc_id, w),
      |fp AS (SELECT a.doc_id,
      |              CAST(sum(
      |                (CASE WHEN b.e > a.e
      |                      THEN CAST(1 AS BIGINT) << CAST(a.w AS INT) ELSE 0 END) +
      |                (CASE WHEN b.m > a.m
      |                      THEN CAST(1 AS BIGINT) << CAST(15 + a.w AS INT) ELSE 0 END) +
      |                (CASE WHEN b.z > a.z
      |                      THEN CAST(1 AS BIGINT) << CAST(30 + a.w AS INT) ELSE 0 END) +
      |                (CASE WHEN b.p > a.p
      |                      THEN CAST(1 AS BIGINT) << CAST(45 + a.w AS INT) ELSE 0 END)
      |              ) AS BIGINT) AS afp
      |       FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.w = a.w + 1
      |       GROUP BY a.doc_id)""".stripMargin

  /** p78: decode every document's WAV payload — RIFF chunk walk, PCM
    * int16 parse — into exact integer waveform statistics plus the
    * four-profile fingerprint. See [[Multimodal.decodeWave]] for the
    * kernel and the scale notes (decode at the codec boundary, shuffle
    * features, never blobs).
    */
  def audioDecode(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeWave(Multimodal.attachWave(documents(s, d)))
      .orderBy(col("doc_id"))

  val audioDecodeOracle: String =
    s"""WITH $waveDocsCte,
       |$waveSampleCte,
       |$waveFpCtes,
       |ag AS (SELECT doc_id,
       |              CAST(sum(s) AS BIGINT) AS sum_s,
       |              CAST(max(abs(s)) AS INTEGER) AS max_amp,
       |              CAST(sum(CASE WHEN sp IS NOT NULL AND sp * s < 0
       |                            THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
       |       FROM sm GROUP BY doc_id)
       |SELECT wd.doc_id, ${Multimodal.WaveRate} AS sample_rate,
       |       CAST(n AS INTEGER) AS n_samples,
       |       sum_s, max_amp, zero_cross, afp
       |FROM wd JOIN ag USING (doc_id) JOIN fp USING (doc_id)
       |ORDER BY wd.doc_id""".stripMargin

  /** p79: near-duplicate audio pairs — Hamming ≤ 3 on the 60-bit
    * fingerprint via the SAME lossless 4×15 banding as image dHash
    * pairs ([[Multimodal.perceptualNearDupPairs]], reused verbatim:
    * the fingerprint was sized 60-bit exactly so the banding and its
    * pigeonhole argument carry over). The fixture guarantees structure:
    * ids 160 apart are byte-identical audio (Hamming 0), ids 80 apart
    * are phase-jittered near-dups. Oracle: brute-force all-pairs over
    * formula-derived fingerprints.
    */
  def audioNearDup(s: SparkSession, d: String): DataFrame =
    Multimodal.perceptualNearDupPairs(
        Multimodal.decodeWave(Multimodal.attachWave(documents(s, d)))
          .select(col("doc_id"), col("afp").as("dhash")),
        maxHamming = 3)
      .orderBy(col("d1"), col("d2"))

  val audioNearDupOracle: String =
    s"""WITH $waveDocsCte,
       |$waveSampleCte,
       |$waveFpCtes
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.afp, b.afp)) <= 3
       |ORDER BY d1, d2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p74_quality_rules", qualityRules, Some(qualityRulesOracle)),
    QuerySpec("p75_shard_manifest", shardManifest, Some(shardManifestOracle)),
    QuerySpec("p76_source_overlap", crossSourceOverlap,
      Some(crossSourceOverlapOracle)),
    QuerySpec("p77_release_manifest", releaseManifest,
      Some(releaseManifestOracle)),
    QuerySpec("p78_audio_decode", audioDecode, Some(audioDecodeOracle)),
    QuerySpec("p79_audio_neardup", audioNearDup, Some(audioNearDupOracle)),
  )
}
