package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec
import graft.functions.TextAnalysis
import graft.functions.TextAnalysis._

/** SparkEntry wiring + DuckDB oracles for the LLM-training-data pipeline
  * operators (dedup, text analysis, similarity search, multimodal) over
  * the driver's `documents` and `embeddings` tables.
  *
  * Oracle-parity strategy: every randomized algorithm is derandomized
  * through md5 (computable identically in DuckDB), every float pipeline
  * folds sequentially so doubles match bitwise, and every output is
  * fully ordered. See each oracle string for the DuckDB mirror.
  */
object PipelineQueries {

  private[operators] val ShingleN = 5

  // ---- dedup ----

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(documents(s, d), "doc_id", "text")
      .select(col("keep_id").as("doc_id"), col("n_copies"), col("text"))
      .orderBy(col("doc_id"))

  val dedupExactOracle: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  def dedupFingerprint(s: SparkSession, d: String): DataFrame =
    Dedup.byFingerprint(documents(s, d), "doc_id", "text")
      .select(col("keep_id").as("doc_id"), col("n_copies"), col("fp"))
      .orderBy(col("doc_id"))

  val dedupFingerprintOracle: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
      |FROM documents
      |GROUP BY fp ORDER BY doc_id""".stripMargin

  /** Shared DuckDB shingle CTE: distinct word 5-grams per doc. */
  private val shingleCte: String =
    """ws AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ngram FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)-3),
      |                 i -> array_to_string(w[i:i+4], ' '))) AS ngram
      |  FROM ws))""".stripMargin

  def dedupNgramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", ShingleN, 0.2)
      .orderBy(col("d1"), col("d2"))

  val dedupNgramJaccardOracle: String =
    s"""WITH $shingleCte,
       |shh AS (SELECT doc_id, CAST('0x' || substr(md5(ngram), 1, 15) AS BIGINT) AS ng FROM sh),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM shh a JOIN shh b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |       round(CAST(c AS DOUBLE)/(s1.n_sh + s2.n_sh - c), 4) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = d1
       |JOIN sz s2 ON s2.doc_id = d2
       |WHERE CAST(c AS DOUBLE)/(s1.n_sh + s2.n_sh - c) >= 0.2
       |ORDER BY d1, d2""".stripMargin

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(documents(s, d), "doc_id", "text",
        n = ShingleN, numHashes = 16, bands = 4)
      .orderBy(col("d1"), col("d2"))

  val dedupMinhashLshOracle: String =
    s"""WITH $shingleCte,
       |hh AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(ngram), 1, 7) AS BIGINT) AS h1,
       |         CAST('0x' || substr(md5(ngram), 8, 7) AS BIGINT) AS h2
       |  FROM sh),
       |hx AS (
       |  SELECT doc_id, seed, min(h1 + seed * h2) AS mh
       |  FROM hh CROSS JOIN (SELECT unnest(range(0,16)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bd AS (
       |  SELECT doc_id, seed // 4 AS band,
       |         string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
       |  FROM hx GROUP BY doc_id, band)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bd a JOIN bd b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |ORDER BY d1, d2""".stripMargin

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(documents(s, d), "doc_id", "text", maxHamming = 3)
      .select(col("d1"), col("d2"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("d1"), col("d2"))

  val dedupSimhashOracle: String = {
    val bits = Dedup.SimhashBits
    val sums = (0 until bits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val assemble = (0 until bits)
      .map(j => s"(CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
       |hh AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h FROM tok),
       |ss AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
       |f AS (SELECT doc_id, $assemble AS sim FROM ss),
       |b AS (SELECT doc_id, sim, band_i, (sim >> (15*band_i)) & 32767 AS band_v
       |      FROM f CROSS JOIN (SELECT unnest(range(0,4)) AS band_i) bi)
       |SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
       |       CAST(bit_count(xor(a.sim, b2.sim)) AS INTEGER) AS hamming
       |FROM b a JOIN b b2 ON a.band_i = b2.band_i AND a.band_v = b2.band_v
       |                   AND a.doc_id < b2.doc_id
       |WHERE bit_count(xor(a.sim, b2.sim)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  /** Near-dup clusters from the MinHash-LSH pair graph: every doc
    * labeled with its cluster's canonical (minimum) doc id.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = ShingleN, numHashes = 16, bands = 4)
    Dedup.dedupClusters(docs, "doc_id", pairs)
      .orderBy(col("doc_id"))
  }

  /** The MinHash-LSH → connected-components → canonical-label CTE
    * chain shared by p20 and p67, ending in `lab(doc_id, canonical)`.
    */
  /** The MinHash-LSH candidate-pair CTE chain (p04's exact pipeline),
    * ending in `prs(d1, d2)` — shared by the cluster-label chain below
    * and by Pipeline8's cross-source overlap oracle.
    */
  private[operators] val lshPairCtes: String =
    s"""$shingleCte,
       |hh AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(ngram), 1, 7) AS BIGINT) AS h1,
       |         CAST('0x' || substr(md5(ngram), 8, 7) AS BIGINT) AS h2
       |  FROM sh),
       |hx AS (
       |  SELECT doc_id, seed, min(h1 + seed * h2) AS mh
       |  FROM hh CROSS JOIN (SELECT unnest(range(0,16)) AS seed) seeds
       |  GROUP BY doc_id, seed),
       |bd AS (
       |  SELECT doc_id, seed // 4 AS band,
       |         string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
       |  FROM hx GROUP BY doc_id, band),
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bd a JOIN bd b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin

  private[operators] val clusterLabelCtes: String =
    s"""RECURSIVE $lshPairCtes,
       |e AS (SELECT d1 AS a, d2 AS b FROM prs UNION SELECT d2, d1 FROM prs),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
       |lab AS (
       |  SELECT d.doc_id,
       |         CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT) AS canonical
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)""".stripMargin

  val dedupClustersOracle: String =
    s"""WITH $clusterLabelCtes
       |SELECT doc_id, canonical FROM lab ORDER BY doc_id""".stripMargin

  /** p67: leak-free train/eval split — documents are assigned to a
    * side by the md5 bucket of their near-dup cluster's canonical id,
    * so the two halves of a duplicate pair can never straddle the
    * boundary (the eval-contamination failure mode of independent
    * per-document sampling). See [[Dedup.leakFreeSplit]].
    */
  def leakFreeSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = ShingleN, numHashes = 16, bands = 4)
    Dedup.leakFreeSplit(docs, "doc_id", pairs, evalPct = 10)
      .orderBy(col("doc_id"))
  }

  val leakFreeSplitOracle: String =
    s"""WITH $clusterLabelCtes
       |SELECT doc_id, canonical,
       |       CASE WHEN CAST('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 7)
       |                      AS BIGINT) % 100 < 10
       |            THEN 'eval' ELSE 'train' END AS split
       |FROM lab ORDER BY doc_id""".stripMargin

  // ---- text analysis ----

  def textStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nw = size(words(t))
    documents(s, d).select(
        col("doc_id"),
        nw.as("n_words"),
        round(length(translate(t, " ", "")).cast("double") / nw, 4).as("avg_word_len"),
        round(stopwordCount(words(t), enStop).cast("double") / nw, 4).as("stop_ratio"),
        round(qualityScore(t), 4).as("quality"))
      .orderBy(col("doc_id"))
  }

  private val stopListSql = TextAnalysis.enStop.map(w => s"'$w'").mkString(", ")

  val textStatsOracle: String =
    s"""SELECT doc_id,
       | CAST(len(string_split(text,' ')) AS INTEGER) AS n_words,
       | round(CAST(length(replace(text,' ','')) AS DOUBLE) / len(string_split(text,' ')), 4) AS avg_word_len,
       | round(CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopListSql))) AS DOUBLE)
       |       / len(string_split(text,' ')), 4) AS stop_ratio,
       | round(least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)
       |       - 0.5 * (CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopListSql))) AS DOUBLE)
       |                / len(string_split(text,' '))), 4) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  def textLangId(s: SparkSession, d: String): DataFrame = {
    val ws = words(col("text"))
    val (se, ss_, sd, sf) = (stopwordCount(ws, enStop), stopwordCount(ws, esStop),
                             stopwordCount(ws, deStop), stopwordCount(ws, frStop))
    documents(s, d).select(
        col("doc_id"),
        se.as("s_en"), ss_.as("s_es"), sd.as("s_de"), sf.as("s_fr"),
        langGuess(se, ss_, sd, sf).as("lang_guess"))
      .orderBy(col("doc_id"))
  }

  private def stopSql(l: Seq[String]) = l.map(w => s"'$w'").mkString(", ")

  val textLangIdOracle: String = {
    def cnt(l: Seq[String]) =
      s"CAST(len(list_filter(string_split(text,' '), w -> w IN (${stopSql(l)}))) AS INTEGER)"
    val (e, es, de, fr) = (cnt(TextAnalysis.enStop), cnt(TextAnalysis.esStop),
                           cnt(TextAnalysis.deStop), cnt(TextAnalysis.frStop))
    s"""SELECT doc_id, $e AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr,
       | CASE WHEN $e >= $es AND $e >= $de AND $e >= $fr THEN 'en'
       |      WHEN $es >= $de AND $es >= $fr THEN 'es'
       |      WHEN $de >= $fr THEN 'de'
       |      ELSE 'fr' END AS lang_guess
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def textTokens(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    documents(s, d).select(
        col("doc_id"),
        wsTokenCount(t).as("ws_tokens"),
        bpeTokenCount(t).as("bpe_tokens"),
        charEstTokenCount(t).as("est_tokens"))
      .orderBy(col("doc_id"))
  }

  val textTokensOracle: String =
    """SELECT doc_id,
      | CAST(len(string_split(text,' ')) AS INTEGER) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens,
      | CAST(ceil(CAST(length(text) AS DOUBLE)/4.0) AS BIGINT) AS est_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- similarity search ----

  /** DuckDB mirror of VectorOps.dot: cast to double, multiply, sum. */
  private def duckDot(a: String, b: String) =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private[operators] def duckCos(a: String, b: String) =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  def simTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
      .orderBy(col("qid"), col("rnk"))
  }

  val simTopKOracle: String = {
    val cos = duckCos("q.embedding", "c.embedding")
    s"""WITH scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid, $cos AS cos
       |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
       |  WHERE q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS INTEGER) AS rnk
       |  FROM scored)
       |SELECT qid, cid, round(cos, 4) AS cos, rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** DuckDB mirror of VectorOps.signBand: width sign bits packed LSB-first. */
  private def duckBand(emb: String, bandVar: String, width: Int) =
    (0 until width)
      .map(k => s"(CASE WHEN $emb[$bandVar*$width + $k + 1] >= 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")

  def simAnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.signLshTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
        nBands = 8, width = 8)
      .orderBy(col("qid"), col("rnk"))
  }

  val simAnnLshOracle: String = {
    val cos = duckCos("c.embedding", "q.embedding")
    s"""WITH banded AS (
       |  SELECT vec_id, embedding, band_i, ${duckBand("embedding", "band_i", 8)} AS band_v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0,8)) AS band_i) bi),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
       |         q.embedding AS qe, c.embedding AS ce
       |  FROM banded c JOIN (SELECT * FROM banded WHERE vec_id < 5) q
       |    ON c.band_i = q.band_i AND c.band_v = q.band_v AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT qid, cid, ${duckCos("qe", "ce")} AS cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |              ORDER BY ${duckCos("qe", "ce")} DESC, cid) AS INTEGER) AS rnk
       |  FROM cand)
       |SELECT qid, cid, round(cos, 4) AS cos, rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** The CAPPED LSH path — the production guard [[Similarity.signLshTopK]]
    * ships with (`maxBucket`): buckets wider than the cap are dropped
    * before candidate expansion, bounding the per-task quadratic blowup a
    * degenerate bucket causes at corpus scale. The cap is exact
    * (count-based), so it mirrors into SQL as a `HAVING count(*) <= cap`
    * anti-filter on the band key — this entry puts the capped operator
    * under the same DuckDB differential oracle as the uncapped p10.
    * maxBucket = 4 is chosen to BIND: at sf0.01 it drops enough buckets
    * that 10 of the 25 uncapped top-5 rows change (measured), so the
    * drop path is differentially checked, not vacuously green; at
    * bench scale (sf0.1, max width 20) it binds harder still.
    */
  def simAnnLshCapped(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.signLshTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
        nBands = 8, width = 8, maxBucket = 4)
      .orderBy(col("qid"), col("rnk"))
  }

  val simAnnLshCappedOracle: String = {
    s"""WITH banded AS (
       |  SELECT vec_id, embedding, band_i, ${duckBand("embedding", "band_i", 8)} AS band_v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0,8)) AS band_i) bi),
       |wide AS (
       |  SELECT band_i, band_v FROM banded
       |  GROUP BY band_i, band_v HAVING count(*) > 4),
       |kept AS (
       |  SELECT b.* FROM banded b
       |  WHERE NOT EXISTS (SELECT 1 FROM wide w
       |                    WHERE w.band_i = b.band_i AND w.band_v = b.band_v)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
       |         q.embedding AS qe, c.embedding AS ce
       |  FROM kept c JOIN (SELECT * FROM banded WHERE vec_id < 5) q
       |    ON c.band_i = q.band_i AND c.band_v = q.band_v AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT qid, cid, ${duckCos("qe", "ce")} AS cos,
       |         CAST(row_number() OVER (PARTITION BY qid
       |              ORDER BY ${duckCos("qe", "ce")} DESC, cid) AS INTEGER) AS rnk
       |  FROM cand)
       |SELECT qid, cid, round(cos, 4) AS cos, rnk
       |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  def embedNearDup(s: SparkSession, d: String): DataFrame =
    Similarity.nearDupPairs(embeddings(s, d), threshold = 0.8,
        nBands = 4, width = 8)
      .orderBy(col("id1"), col("id2"))

  val embedNearDupOracle: String = {
    val cos = duckCos("a.embedding", "b.embedding")
    s"""WITH banded AS (
       |  SELECT vec_id, embedding, band_i, ${duckBand("embedding", "band_i", 8)} AS band_v
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0,4)) AS band_i) bi),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
       |         a.embedding AS ea, b.embedding AS eb
       |  FROM banded a JOIN banded b
       |    ON a.band_i = b.band_i AND a.band_v = b.band_v AND a.vec_id < b.vec_id)
       |SELECT id1, id2, round(${duckCos("ea", "eb")}, 4) AS cos
       |FROM cand WHERE ${duckCos("ea", "eb")} >= 0.8
       |ORDER BY id1, id2""".stripMargin
  }

  // ---- IVF similarity ----

  def simIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nCells = 8, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  val simIvfOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    val cos = duckCos("p.qe", "a.ce2")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid_, embedding AS ce2, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qe, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 2),
       |ranked AS (
       |  SELECT p.qid, a.cid_ AS cid, $cos AS cos,
       |         CAST(row_number() OVER (PARTITION BY p.qid
       |              ORDER BY $cos DESC, a.cid_) AS INTEGER) AS rnk
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid_)
       |SELECT qid, cid, round(cos, 4) AS cos, rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** The stored-layout IVF path: build the at-rest cell-partitioned
    * index ([[Similarity.ivfWrite]]) then answer the probe batch from
    * it ([[Similarity.ivfTopKStored]]). Same centroids and parameters
    * as p13, so the oracle is IDENTICAL — the layout must be
    * semantics-preserving; what changes is the scan: dynamic partition
    * pruning restricts the read to the probed cells (PlanSpec pins the
    * dynamicpruningexpression in the scan's PartitionFilters).
    *
    * The store is built ONCE per JVM per dataset (the shared
    * [[IndexStores]] memo contract, in a fresh temp dir — no
    * cross-dataset collisions, no races between harness JVMs): the
    * first invocation pays the one-pass build, every later probe batch
    * reads only its cells. Warm bench reps therefore measure the
    * steady-state probe, exactly what a deployed index serves.
    */
  private[operators] def ivfStorePath(s: SparkSession, d: String): String = {
    val emb = embeddings(s, d)
    IndexStores.of("ivf_cells", d) { p =>
      Similarity.ivfWrite(emb, Similarity.seedCentroids(emb, 8), p)
    }
  }

  def simIvfStored(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    val store = ivfStorePath(s, d)
    Similarity.ivfTopKStored(s, store, emb.filter(col("vec_id") < 5), cents,
        k = 10, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  /** p65: METADATA-FILTERED vector search over the p41 store — rank
    * only corpus vectors whose document passes `source LIKE 'src1%'`
    * (src1, src10–src19: a deterministic ~half of the 20 generator
    * sources at every SF). Same store, same centroids, same probe
    * fan-out as p41; what changes is that the predicate joins INTO the
    * ranking ([[Similarity.ivfTopKStoredFiltered]]), so the answer is
    * the true top-k of the filtered subset, not a lossy post-filter.
    * The oracle is p13/p41's with one added JOIN in the ranked CTE —
    * the layout and the filter placement must both be
    * semantics-preserving for the hash to match.
    */
  def simIvfStoredFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    val store = ivfStorePath(s, d)
    val allowed = documents(s, d).filter(col("source").like("src1%"))
      .select(col("doc_id").as("vec_id"))
    Similarity.ivfTopKStoredFiltered(s, store, emb.filter(col("vec_id") < 5),
        cents, allowed, k = 10, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  val simIvfFilteredOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    val cos = duckCos("p.qe", "a.ce2")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid_, embedding AS ce2, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, embedding AS qe, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 2),
       |ranked AS (
       |  SELECT p.qid, a.cid_ AS cid, $cos AS cos,
       |         CAST(row_number() OVER (PARTITION BY p.qid
       |              ORDER BY $cos DESC, a.cid_) AS INTEGER) AS rnk
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid_
       |  JOIN documents dd ON dd.doc_id = a.cid_ AND dd.source LIKE 'src1%')
       |SELECT qid, cid, round(cos, 4) AS cos, rnk
       |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** The index-quality report over the same model as p13/p41: per-cell
    * member counts + min/max member-to-centroid cosine. The oracle
    * reuses p13's assignment CTE (same tie-break: max cosine, then
    * lowest centroid id).
    */
  def simIvfCellStats(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.ivfCellStats(emb, Similarity.seedCentroids(emb, 8))
  }

  val simIvfCellStatsOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cell, cc FROM (
       |    SELECT e.vec_id, c.ccid AS cell, $ccos AS cc,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)
       |SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n_vectors,
       |       min(round(cc, 4)) AS min_cos, max(round(cc, 4)) AS max_cos
       |FROM assign GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ---- multimodal ----

  def multimodalInspect(s: SparkSession, d: String): DataFrame =
    Multimodal.inspect(Multimodal.attachBinary(documents(s, d)))
      .orderBy(col("doc_id"))

  val multimodalInspectOracle: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      | md5(text) AS content_md5,
      | lower(hex(encode(substring(text, 1, 8)))) AS head_hex,
      | CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS width,
      | CAST(48 + (doc_id % 5) * 16 AS INTEGER) AS height,
      | CAST(3 AS INTEGER) AS channels,
      | 'fake/' || CAST(doc_id % 3 AS VARCHAR) AS codec
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling over the binary payload, exploded to scalar rows
    * (driver compare is row-oriented; arrays stay out of the output).
    */
  def frameSampleQ(s: SparkSession, d: String): DataFrame =
    Multimodal.frameSample(Multimodal.attachBinary(documents(s, d)),
        strideBytes = 64, maxFrames = 8)
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_i", "frame_hex")))
      .orderBy(col("doc_id"), col("frame_i"))

  val frameSampleOracle: String =
    """SELECT doc_id, CAST(i AS INTEGER) AS frame_i,
      |       lower(hex(encode(substr(text, i*64 + 1, 4)))) AS frame_hex
      |FROM documents,
      |     unnest(range(0, least(8, octet_length(encode(text)) // 64))) AS t(i)
      |ORDER BY doc_id, frame_i""".stripMargin

  /** REAL decode: render each document's self-describing P6 raster
    * (header + packed RGB), then parse it back byte-by-byte in the
    * mapPartitions decode boundary and emit exact integer image stats
    * + the 60-bit dHash. Full differential oracle: DuckDB re-derives
    * width/height/row-sums/total/dHash from the generator formula
    * alone, so any drift in the encoder, the header parser, the pixel
    * indexing, or the hash sampling breaks the cell-exact compare.
    */
  def multimodalDecode(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeRaster(Multimodal.attachRaster(documents(s, d)))
      .orderBy(col("doc_id"))

  /** Shared SQL fragments for the raster oracles: the generator's
    * per-doc constants and the pixel / grayscale formulas, inlined so
    * DuckDB recomputes what the Scala decoder read from bytes.
    */
  private[operators] val rasterDocsCte =
    """d AS (SELECT doc_id,
      |             CAST(64 + (doc_id % 8) * 16 AS BIGINT) AS w,
      |             CAST(48 + (doc_id % 5) * 16 AS BIGINT) AS h,
      |             29 * (doc_id % 16) + ((doc_id // 80) % 2) AS base
      |      FROM documents)""".stripMargin

  private[operators] def pixSql(x: String, y: String, c: Int): String =
    s"((7 * ($x) + 13 * ($y) + ${31 * c} + base) % 256)"

  private[operators] def graySql(x: String, y: String): String =
    s"((${pixSql(x, y, 0)} + ${pixSql(x, y, 1)} + ${pixSql(x, y, 2)}) // 3)"

  /** Per-doc dHash CTE (expects `d` in scope): 11×6 point-sampled
    * grayscale grid, bit j*10+i set iff brightness rises — the exact
    * mirror of Multimodal.dHash, re-derived from the formula.
    */
  private[operators] val rasterDhashCte = {
    val xi = "((i * w) // 11)"
    val xn = "(((i + 1) * w) // 11)"
    val yj = "((j * h) // 6)"
    s"""dh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN ${graySql(xn, yj)} > ${graySql(xi, yj)}
       |                       THEN CAST(1 AS BIGINT) << CAST(j * 10 + i AS INT)
       |                       ELSE 0 END) AS BIGINT) AS dhash
       |  FROM d, unnest(range(0, 10)) ti(i), unnest(range(0, 6)) tj(j)
       |  GROUP BY doc_id)""".stripMargin
  }

  val multimodalDecodeOracle: String =
    s"""WITH $rasterDocsCte,
       |r0 AS (
       |  SELECT doc_id,
       |         CAST(sum(${pixSql("x", "0", 0)}) AS BIGINT) AS r0_sum_r,
       |         CAST(sum(${pixSql("x", "0", 1)}) AS BIGINT) AS r0_sum_g,
       |         CAST(sum(${pixSql("x", "0", 2)}) AS BIGINT) AS r0_sum_b
       |  FROM d, unnest(range(0, w)) tx(x) GROUP BY doc_id),
       |px AS (
       |  SELECT doc_id,
       |         CAST(sum(${pixSql("x", "y", 0)} + ${pixSql("x", "y", 1)}
       |                  + ${pixSql("x", "y", 2)}) AS BIGINT) AS pix_sum
       |  FROM d, unnest(range(0, w)) tx(x), unnest(range(0, h)) ty(y)
       |  GROUP BY doc_id),
       |$rasterDhashCte
       |SELECT d.doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |       255 AS maxval, w * h * 3 AS n_pix_bytes,
       |       r0_sum_r, r0_sum_g, r0_sum_b, pix_sum, dhash
       |FROM d JOIN r0 USING (doc_id) JOIN px USING (doc_id) JOIN dh USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** p59: perceptual near-dup pairs over the decoded rasters — dHash
    * banding + exact Hamming ≤ 3 (lossless by pigeonhole), verified
    * against DuckDB's brute-force all-pairs scan of formula-derived
    * hashes. The fixture corpus makes this non-trivial: docs sharing
    * `doc_id % 160` render identical rasters (Hamming 0) and docs
    * sharing `doc_id % 80` differ by a ±1 brightness jitter whose
    * dHash drifts only where a sampled pixel straddles a mod-256 wrap.
    */
  def perceptualNearDup(s: SparkSession, d: String): DataFrame =
    Multimodal.perceptualNearDupPairs(
        Multimodal.decodeRaster(Multimodal.attachRaster(documents(s, d)))
          .select(col("doc_id"), col("dhash")),
        maxHamming = 3)
      .orderBy(col("d1"), col("d2"))

  val perceptualNearDupOracle: String =
    s"""WITH $rasterDocsCte,
       |$rasterDhashCte
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |FROM dh a JOIN dh b ON b.doc_id > a.doc_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
       |ORDER BY d1, d2""".stripMargin

  /** p61: fuzzy-key near-dup — document pairs whose 12-char text
    * prefix is within ONE edit (typo radius), found by deletion-
    * neighborhood (FastSS) blocking + exact Levenshtein verification.
    * The oracle is the BRUTE-FORCE all-pairs Levenshtein join — it
    * shares no blocking logic with the engine, so it independently
    * proves the deletion-neighborhood cover is lossless at distance 1.
    */
  def fuzzyNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyKeyPairs(
        documents(s, d).select(col("doc_id"),
          substring(col("text"), 1, 12).as("k")),
        "doc_id", "k")
      .orderBy(col("d1"), col("d2"))

  val fuzzyNearDupOracle: String =
    """WITH k AS (SELECT doc_id, substr(text, 1, 12) AS k FROM documents)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |       CAST(levenshtein(a.k, b.k) AS INTEGER) AS lev
      |FROM k a JOIN k b ON b.doc_id > a.doc_id
      |WHERE levenshtein(a.k, b.k) <= 1
      |ORDER BY d1, d2""".stripMargin

  /** p60: perceptual image dedup CLUSTERS — p59's dHash pair graph
    * resolved to canonical labels with the O(log n) large-star/
    * small-star contraction (the p33 machinery, unchanged). This
    * closes the multimodal dedup loop decode → perceptual signature →
    * near-dup pairs → connected components → canonical keep, the exact
    * composition the text side ships as p04/p05 → p20/p33. The oracle
    * replays the pair graph from the pixel formula and resolves
    * components by a recursive transitive closure (p20's oracle
    * device) — both engines must produce the identical labeling.
    */
  def perceptualClusters(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    Dedup.dedupClustersLogN(docs, "doc_id",
        Multimodal.perceptualNearDupPairs(
          Multimodal.decodeRaster(Multimodal.attachRaster(docs))
            .select(col("doc_id"), col("dhash")),
          maxHamming = 3))
      .orderBy(col("doc_id"))
  }

  val perceptualClustersOracle: String =
    s"""WITH RECURSIVE $rasterDocsCte,
       |$rasterDhashCte,
       |prs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM dh a JOIN dh b ON b.doc_id > a.doc_id
       |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
       |e AS (SELECT d1 AS a, d2 AS b FROM prs UNION SELECT d2, d1 FROM prs),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a)
       |SELECT d0.doc_id,
       |       CAST(coalesce(least(c.doc_id, c.mn), d0.doc_id) AS BIGINT) AS canonical
       |FROM documents d0 LEFT JOIN comp c ON d0.doc_id = c.doc_id
       |ORDER BY d0.doc_id""".stripMargin

  /** Regex redaction pass — the PII-scrub shape: per-row regexp
    * rewrite, no shuffle, scales with the scan. Patterns here are
    * email/phone/long-digit-run stand-ins.
    */
  def redact(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
        col("doc_id"),
        substring(
          regexp_replace(
            regexp_replace(col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
            "[0-9]{6,}", "<NUM>"), 1, 60).as("scrubbed"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .as("n_digits"))
      .orderBy(col("doc_id"))

  val redactOracle: String =
    """SELECT doc_id,
      | substring(regexp_replace(regexp_replace(text,
      |     '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |     '[0-9]{6,}', '<NUM>', 'g'), 1, 60) AS scrubbed,
      | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER)
      |   AS n_digits
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic hash sampling — the reproducible replacement for
    * rand() sampling in data pipelines: membership depends only on the
    * row key, so the sample is stable across reruns, engines, and
    * cluster layouts, and composes with incremental ingestion. Keeps
    * ~10% (md5-derived 28-bit hash mod 100 < 10); map-only.
    */
  def hashSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("h",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long"), lit(100L)))
      .filter(col("h") < 10)
      .select(col("doc_id"), col("h").cast("int").as("bucket"))
      .orderBy(col("doc_id"))

  val hashSampleOracle: String =
    """SELECT doc_id,
      | CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100
      |   AS INTEGER) AS bucket
      |FROM documents
      |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** Token-budget packing: take documents in a deterministic order
    * until a token budget is filled (the training-mix assembly step).
    * The global running sum over doc_id order goes through
    * TwoLevel.withGlobalCumsum — parallel per-shard windows plus a
    * broadcast offset table, no single-partition stage anywhere.
    * Output is identical to the naive `Window.orderBy(doc_id)`
    * formulation (the oracle below IS that formulation).
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), wsTokenCount(col("text")).as("n_tokens"))
    TwoLevel.withGlobalCumsum(base, "doc_id", Nil, "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= 3000)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  val tokenBudgetOracle: String =
    """SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
      |  SELECT doc_id, CAST(len(string_split(text,' ')) AS INTEGER) AS n_tokens,
      |   sum(CAST(len(string_split(text,' ')) AS BIGINT))
      |     OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |     AS cum_tokens
      |  FROM documents)
      |WHERE cum_tokens <= 3000
      |ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p01_dedup_exact", dedupExact, Some(dedupExactOracle)),
    QuerySpec("p02_dedup_fingerprint", dedupFingerprint,
      Some(dedupFingerprintOracle)),
    QuerySpec("p03_dedup_ngram_jaccard", dedupNgramJaccard,
      Some(dedupNgramJaccardOracle)),
    QuerySpec("p04_dedup_minhash_lsh", dedupMinhashLsh,
      Some(dedupMinhashLshOracle)),
    QuerySpec("p05_dedup_simhash", dedupSimhash, Some(dedupSimhashOracle)),
    QuerySpec("p06_text_stats", textStats, Some(textStatsOracle)),
    QuerySpec("p07_text_langid", textLangId, Some(textLangIdOracle)),
    QuerySpec("p08_text_tokens", textTokens, Some(textTokensOracle)),
    QuerySpec("p09_sim_topk", simTopK, Some(simTopKOracle)),
    QuerySpec("p10_sim_ann_lsh", simAnnLsh, Some(simAnnLshOracle)),
    QuerySpec("p40_sim_ann_capped", simAnnLshCapped,
      Some(simAnnLshCappedOracle)),
    QuerySpec("p11_embed_neardup", embedNearDup, Some(embedNearDupOracle)),
    QuerySpec("p12_multimodal_inspect", multimodalInspect,
      Some(multimodalInspectOracle)),
    QuerySpec("p13_sim_ivf", simIvf, Some(simIvfOracle)),
    // the stored layout is semantics-preserving: same oracle as p13
    QuerySpec("p41_sim_ivf_stored", simIvfStored, Some(simIvfOracle)),
    QuerySpec("p65_sim_filtered", simIvfStoredFiltered,
      Some(simIvfFilteredOracle)),
    QuerySpec("p44_ivf_cell_stats", simIvfCellStats,
      Some(simIvfCellStatsOracle)),
    QuerySpec("p14_frame_sample", frameSampleQ, Some(frameSampleOracle)),
    QuerySpec("p15_multimodal_decode", multimodalDecode,
      Some(multimodalDecodeOracle)),
    QuerySpec("p59_perceptual_neardup", perceptualNearDup,
      Some(perceptualNearDupOracle)),
    QuerySpec("p60_perceptual_clusters", perceptualClusters,
      Some(perceptualClustersOracle)),
    QuerySpec("p61_fuzzy_neardup", fuzzyNearDup, Some(fuzzyNearDupOracle)),
    // rows-only: HLL++/percentile_approx estimates are engine-specific;
    // SketchesSpec pins the error envelope against exact twins
    QuerySpec("p16_approx_stats", Sketches.approxStats, None),
    QuerySpec("p17_redact", redact, Some(redactOracle)),
    QuerySpec("p18_hash_sample", hashSample, Some(hashSampleOracle)),
    QuerySpec("p19_token_budget", tokenBudget, Some(tokenBudgetOracle)),
    QuerySpec("p20_dedup_clusters", dedupClusters, Some(dedupClustersOracle)),
    QuerySpec("p67_leakfree_split", leakFreeSplit, Some(leakFreeSplitOracle)),
    QuerySpec("p21_typed_stats", TypedStats.corpusStatsByLen,
      Some(TypedStats.corpusStatsOracle)),
  )
}
