package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec
import graft.functions.TextAnalysis._

/** Pipeline operators, batch 4: repetition-based quality signals,
  * benchmark-contamination detection, sequence packing, proportional
  * mix rebalancing, and the O(log n) dedup-cluster path — the round-2
  * additions to the training-data curation surface.
  *
  * Oracle-parity rules follow the established playbook: integer-only
  * outputs where possible, floor-quantized ratios computed with the
  * SAME expression text in both engines, md5-derandomized ordering,
  * full ORDER BY keys.
  */
object Pipeline4 {

  private val ShingleN = 5

  /** Shared DuckDB shingle CTE (mirror of PipelineQueries'). */
  private val shingleCte: String =
    """ws AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ngram FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)-3),
      |                 i -> array_to_string(w[i:i+4], ' '))) AS ngram
      |  FROM ws))""".stripMargin

  /** Gopher-style repetition quality signals, per document: word and
    * bigram totals, distinct-word count, the most-repeated word and
    * bigram, and the two standard repetition ratios (duplicate-word
    * fraction, top-bigram fraction) as floor-quantized integers.
    * A curation pipeline thresholds these to drop degenerate text
    * (keyword stuffing, boilerplate loops, template spam).
    *
    * Scale shape: SPLIT ONCE — the (doc_id, word-array) table is
    * localCheckpoint'd and both term branches (words, bigrams via
    * zip_with over shifted slices) explode from the materialized
    * arrays, so the corpus is scanned and regex-split exactly once.
    * Measured 3.4x faster than re-splitting per branch at sf0.1
    * (round 4, warm: 1.65 s -> 0.49 s, identical output);
    * same multi-consumer-expansion device as p03/p30/p34. Each branch
    * then shuffles one row per DISTINCT (doc, term) — map-side combine
    * absorbs within-doc repetition, which is exactly what repetitive
    * junk documents have most of — joined on doc_id. At corpus scale
    * the checkpoint is text-sized but replaces a second full scan +
    * split of the corpus. Ratios are floor(1e6·x): one IEEE
    * multiply+divide+floor, bit-identical in any engine, no round()
    * portability hazard.
    */
  def qualityRepetition(s: SparkSession, d: String): DataFrame = {
    // Two lean explode branches joined on doc_id. The "obvious" FULL
    // fusion (one tagged struct explode + conditional-agg pivot, saving
    // the second shuffle too) measured ~50% SLOWER at sf0.1: per-term
    // struct allocation and wider shuffle rows cost more than the extra
    // narrow branch — same finding as the rejected single-pass n-gram
    // Jaccard variant. Sharing the SPLIT (cheap arrays, no wider rows)
    // has no such penalty and removes the duplicated regex work.
    // eager = false: materialization happens at execution time. Caveat
    // (pinned in CurationPipelineSpec): AQE still pre-materializes any
    // shuffle BELOW a lazy checkpoint at construction. This subplan is
    // narrow, so construction costs only the parquet footer read; ops
    // whose checkpointed subplan starts with Parallelism's conditional
    // rebalance (contamination, shingleNovelty, p03) pre-run that one
    // fan-out stage when the LOCAL input is single-split — reused at
    // execution, never wasted, and absent at scale where the scan is
    // already parallel. Trade-off carried over from eager:
    // localCheckpoint is documented fault-INtolerant — an executor loss
    // makes the checkpointed partitions unrecoverable; at cluster scale
    // use persist(DISK) or a staging write for the same shape.
    val wsTab = documents(s, d)
      .select(col("doc_id"), words(col("text")).as("w"))
      .localCheckpoint(eager = false)
    val wc = wsTab.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    val ws = wc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"),
           max(col("c")).as("top_word"))
    // adjacent-pair bigrams from the materialized array; docs with a
    // single word yield an empty list and (like the oracle's inner
    // join) drop out — identical to the wordNgrams(text, 2) form
    val bigrams = zip_with(
      slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
      slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val bc = wsTab.select(col("doc_id"), explode(bigrams).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
    val bs = bc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    ws.join(bs, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("top_word"), col("n_bigrams"), col("top_bigram"),
        floor(lit(1e6) * (lit(1) - col("n_distinct").cast("double") / col("n_words")))
          .as("dup_word_q"),
        floor(lit(1e6) * col("top_bigram").cast("double") / col("n_bigrams"))
          .as("top_bigram_q"))
      .orderBy(col("doc_id"))
  }

  val qualityRepetitionOracle: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
      |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
      |              count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_word
      |       FROM wc GROUP BY doc_id),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(wl)),
      |                i -> wl[i] || ' ' || wl[i+1])) AS bigram
      |       FROM (SELECT doc_id, string_split(text,' ') AS wl FROM documents)
      |       WHERE len(wl) >= 2),
      |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |              CAST(max(c) AS BIGINT) AS top_bigram
      |       FROM bc GROUP BY doc_id)
      |SELECT ws.doc_id, n_words, n_distinct, top_word, n_bigrams, top_bigram,
      |       CAST(floor(1e6 * (1 - CAST(n_distinct AS DOUBLE) / n_words)) AS BIGINT)
      |         AS dup_word_q,
      |       CAST(floor(1e6 * CAST(top_bigram AS DOUBLE) / n_bigrams) AS BIGINT)
      |         AS top_bigram_q
      |FROM ws JOIN bs USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination check: flag corpus documents sharing any
    * word 5-gram with a held-out "benchmark" set (modeled as doc_id %
    * 97 == 0), reporting how many distinct shingles and benchmark docs
    * each one collides with — the decontamination step every training
    * corpus runs against eval sets.
    *
    * Scale shape: the benchmark shingle index is tiny relative to the
    * corpus (evals are thousands of docs, corpora are billions), so it
    * BROADCASTS and the corpus-side scan never shuffles its shingle
    * stream — the only exchange is the per-doc count aggregation.
    * Shingles are compared by xxhash64 (bucket identity only; output
    * is hash-free, so the oracle can join raw strings).
    */
  def contamination(s: SparkSession, d: String): DataFrame = {
    // checkpoint: the two consumers filter DIFFERENT slices (bench vs
    // corpus), so no exchange reuse is possible — without
    // materialization the scan+shingle expansion would run twice
    // eager = false: see qualityRepetition — construction runs at most
    // the footer read + the conditional local-input fan-out stage
    // (none at scale); fault-tolerance trade-off documented there
    val sh = Dedup.shinglePairs(documents(s, d), "doc_id", "text", ShingleN)
      .select(col("doc_id"), xxhash64(col("ngram")).as("ng"))
      .localCheckpoint(eager = false)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("ng"), col("doc_id").as("bench_id")).distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("ng"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ng")).as("n_shared_ngrams"),
           countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  val contaminationOracle: String =
    s"""WITH $shingleCte,
       |bench AS (SELECT DISTINCT ngram, doc_id AS bench_id FROM sh
       |          WHERE doc_id % 97 = 0),
       |hits AS (SELECT s.doc_id, s.ngram, b.bench_id
       |         FROM sh s JOIN bench b USING (ngram)
       |         WHERE s.doc_id % 97 <> 0)
       |SELECT doc_id, count(DISTINCT ngram) AS n_shared_ngrams,
       |       count(DISTINCT bench_id) AS n_bench_docs
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Sequence packing: assign documents to fixed-size training
    * sequences (256 tokens) by concatenation order, sharded so the
    * cumulative sum never serializes: shard = doc_id % 8, documents
    * packed in doc_id order within their shard, bins namespaced by
    * shard (shard · 2⁴⁰ — collision-free until a single shard exceeds
    * 2⁴⁰ bins ≈ 280 T tokens, far past any real shard). Integer
    * arithmetic end to end (window cumsum, DIV, %) — nothing float
    * touches the output.
    *
    * Scale shape: one hash shuffle on the shard key; each shard's
    * running sum is an independent window. More shards = more
    * parallelism; bin ids stay stable under any shard count because
    * they are derived, not assigned.
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
              wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("shard") * 1099511627776L + expr("cum_prev DIV 256")).as("bin_id"),
        (col("cum_prev") % 256).as("offset_in_bin"))
      .orderBy(col("doc_id"))
  }

  val packSequencesOracle: String =
    """WITH t AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |         CAST(coalesce(sum(n_tokens) OVER (
      |           PARTITION BY shard ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS cum_prev
      |  FROM t)
      |SELECT doc_id, shard, n_tokens,
      |       shard * 1099511627776 + cum_prev // 256 AS bin_id,
      |       cum_prev % 256 AS offset_in_bin
      |FROM c ORDER BY doc_id""".stripMargin

  /** Proportional mix rebalancing: keep the same fraction (20%, as
    * integer-ceil) of every (lang, source) stratum, members chosen by
    * md5(doc_id) order — the data-mixture step that reshapes a corpus
    * toward a target source distribution without a fixed per-stratum
    * cap (contrast p23's exact-k stratified sample).
    *
    * Scale shape: ONE hash shuffle on the stratum key; both the rank
    * and the stratum size are windows over the same partition, so no
    * second pass and no quota join. Deterministic: md5 ordering is
    * reproducible across engines and cluster re-runs.
    */
  def mixRebalance(s: SparkSession, d: String): DataFrame = {
    val part = Window.partitionBy(col("lang"), col("source"))
    val w = part.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_strat", count(lit(1)).over(part))
      .filter(expr("rnk <= (n_strat + 4) DIV 5"))
      .select(col("doc_id"), col("lang"), col("source"),
              col("rnk"), col("n_strat"))
      .orderBy(col("doc_id"))
  }

  val mixRebalanceOracle: String =
    """WITH r AS (
      |  SELECT doc_id, lang, source,
      |         row_number() OVER (PARTITION BY lang, source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk,
      |         count(*) OVER (PARTITION BY lang, source) AS n_strat
      |  FROM documents)
      |SELECT doc_id, lang, source, CAST(rnk AS INTEGER) AS rnk, n_strat
      |FROM r WHERE rnk <= (n_strat + 4) // 5
      |ORDER BY doc_id""".stripMargin

  /** O(log n) dedup clusters: same pair graph and same output as
    * p20_dedup_clusters, resolved with large-star/small-star
    * contraction instead of diameter-bound label propagation. The
    * oracle is identical — both must produce the exact same labeling.
    */
  def dedupClustersLogN(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = ShingleN, numHashes = 16, bands = 4)
    Dedup.dedupClustersLogN(docs, "doc_id", pairs)
      .orderBy(col("doc_id"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p29_quality_repetition", qualityRepetition,
      Some(qualityRepetitionOracle)),
    QuerySpec("p30_contamination", contamination, Some(contaminationOracle)),
    QuerySpec("p31_pack_sequences", packSequences, Some(packSequencesOracle)),
    QuerySpec("p32_mix_rebalance", mixRebalance, Some(mixRebalanceOracle)),
    QuerySpec("p33_dedup_clusters_logn", dedupClustersLogN,
      Some(PipelineQueries.dedupClustersOracle)),
  )
}
