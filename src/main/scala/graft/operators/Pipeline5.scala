package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}

/** Pipeline operators, batch 5: shingle-novelty scoring, incremental
  * (snapshot-delta) dedup, and provenance-preserving corpus merge —
  * the corpus-maintenance operations that run on every refresh of a
  * training set, as opposed to the one-shot curation of batches 1–4.
  */
object Pipeline5 {

  private val ShingleN = 5

  /** Shingle novelty: per document, how much of its 5-gram content is
    * unique in the corpus (document frequency 1) — the inverse-
    * boilerplate signal; mirrors and template spam score near 0, fresh
    * prose near 1e6. Fully integer: counts plus a floor-quantized
    * ratio (one IEEE multiply+divide+floor, bit-identical anywhere).
    *
    * Scale shape: two hash shuffles keyed by shingle (distinct
    * doc-shingle pairs, then document frequency) and one keyed by
    * doc_id for the final roll-up. The df table is joined back on the
    * shingle key — co-partitioned with the pairs by construction, so
    * the join reuses the same hash exchange. Documents shorter than
    * the shingle width surface with zero counts via the left join.
    */
  def shingleNovelty(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // checkpoint: sh feeds both the df aggregation and the join probe;
    // materializing hashed longs guarantees the expansion runs once
    // eager = false: construction runs at most the footer read + the
    // conditional local-input fan-out stage — none at scale
    // (Pipeline4.qualityRepetition documents the full contract and the
    // localCheckpoint fault-tolerance trade-off)
    val sh = Dedup.shinglePairs(docs, "doc_id", "text", ShingleN)
      .select(col("doc_id"), xxhash64(col("ngram")).as("ngram"))
      .localCheckpoint(eager = false)
    val df = sh.groupBy(col("ngram")).agg(count(lit(1)).as("df"))
    val per = sh.join(df, "ngram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(floor(lit(1e6) * col("n_unique").cast("double") / col("n_shingles")),
                 lit(0L)).as("novelty_q"))
      .orderBy(col("doc_id"))
  }

  val shingleNoveltyOracle: String =
    """WITH ws AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ngram FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)-3),
      |                 i -> array_to_string(w[i:i+4], ' '))) AS ngram
      |  FROM ws)),
      |df AS (SELECT ngram, count(*) AS df FROM sh GROUP BY ngram),
      |per AS (SELECT doc_id, count(*) AS n_shingles,
      |               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |                 AS n_unique
      |        FROM sh JOIN df USING (ngram) GROUP BY doc_id)
      |SELECT d.doc_id,
      |       coalesce(n_shingles, 0) AS n_shingles,
      |       coalesce(n_unique, 0) AS n_unique,
      |       coalesce(CAST(floor(1e6 * CAST(n_unique AS DOUBLE) / n_shingles)
      |                     AS BIGINT), 0) AS novelty_q
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Incremental dedup: admit only those documents of an incoming
    * batch (modeled as odd doc_ids) whose exact fingerprint is absent
    * from the base snapshot (even doc_ids), deduplicating within the
    * batch as well (first doc_id wins). This is the steady-state shape
    * of corpus refresh — the base is never rescanned per document,
    * just anti-joined on its fingerprint index.
    *
    * Scale shape: one hash shuffle of each side on the fingerprint;
    * the anti join and the survivor window reuse that same
    * partitioning. The base side would be a bucketed fingerprint
    * index in production (sources.Bucketed), making refresh map-side.
    */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val base = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("fp")).distinct()
    val inc = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    inc.join(base, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  val incrementalDedupOracle: String =
    """WITH base AS (SELECT DISTINCT md5(text) AS fp FROM documents
      |              WHERE doc_id % 2 = 0),
      |inc AS (SELECT doc_id, md5(text) AS fp FROM documents
      |        WHERE doc_id % 2 = 1),
      |surv AS (SELECT doc_id, fp,
      |                row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |         FROM inc WHERE fp NOT IN (SELECT fp FROM base))
      |SELECT doc_id, fp FROM surv WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Provenance-preserving merge: collapse exact-duplicate documents
    * corpus-wide, keeping for each surviving text the canonical id,
    * the copy count, and the sorted set of sources and languages the
    * copies came from — the lineage a curation audit needs ("this doc
    * appears in src0, src3, src7"). Sets are emitted as sorted
    * comma-joined strings (deterministic, engine-portable, and
    * column-stats friendly at rest).
    *
    * Scale shape: one hash shuffle on the fingerprint; collect_set
    * buffers only the distinct provenance values per group (bounded
    * by source/lang cardinality, not copies).
    */
  def provenanceMerge(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
           count(lit(1)).as("n_copies"),
           array_join(array_sort(collect_set(col("source"))), ",").as("sources"),
           array_join(array_sort(collect_set(col("lang"))), ",").as("langs"))
      .orderBy(col("canonical_id"))

  val provenanceMergeOracle: String =
    """SELECT md5(text) AS fp,
      |       min(doc_id) AS canonical_id,
      |       count(*) AS n_copies,
      |       array_to_string(list_sort(list_distinct(list(source))), ',')
      |         AS sources,
      |       array_to_string(list_sort(list_distinct(list(lang))), ',') AS langs
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY canonical_id""".stripMargin

  /** Corpus-health report: per source, how much of its content is
    * duplicated elsewhere in the corpus — doc counts, docs whose exact
    * fingerprint occurs more than once corpus-wide, and the
    * floor-quantized duplication rate. This is the dashboard number
    * that decides which crawl/source gets dedup attention first.
    *
    * Scale shape: one hash shuffle on the fingerprint (window count —
    * keyed, parallel), one on the source for the roll-up. No joins.
    */
  def dupRateBySource(s: SparkSession, d: String): DataFrame = {
    val byFp = Window.partitionBy(md5(col("text")))
    documents(s, d)
      .withColumn("copies", count(lit(1)).over(byFp))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        floor(lit(1e6) * col("n_dup_docs").cast("double") / col("n_docs"))
          .as("dup_rate_q"))
      .orderBy(col("source"))
  }

  val dupRateBySourceOracle: String =
    """WITH c AS (
      |  SELECT source,
      |         count(*) OVER (PARTITION BY md5(text)) AS copies
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_docs,
      |       CAST(floor(1e6 * CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END)
      |                             AS DOUBLE) / count(*)) AS BIGINT)
      |         AS dup_rate_q
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Overlapping chunking: split every document into fixed-width
    * character windows (width 100, stride 80 → 20-char overlap) with
    * explicit offsets — the context-window preprocessing every
    * RAG / training pipeline runs before embedding or packing. Chunk
    * boundaries are pure integer arithmetic on n_chars; the text slice
    * is a substring, so the op is one map-side explode — no shuffle at
    * all until the output sort, and none in production where chunks
    * stream straight into the embedder.
    *
    * The chunk count is `greatest(n_chars - 1, 0) DIV 80 + 1` — the
    * greatest() clamp keeps the n_chars=0 edge engine-portable: Spark's
    * DIV truncates toward zero ((0-1) DIV 80 = 0) while DuckDB's //
    * floors ((0-1)//80 = -1), so without the clamp an empty document
    * yields one empty chunk here but vanishes from the oracle. Clamped,
    * both engines emit exactly one empty chunk per empty document.
    */
  def chunkOverlap(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"),
        explode(sequence(lit(0L), expr("greatest(n_chars - 1, 0) DIV 80"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * 80).as("start"),
        expr("substring(text, CAST(chunk_idx * 80 + 1 AS INT), 100)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkOverlapOracle: String =
    """SELECT doc_id, i AS chunk_idx, i * 80 AS start,
      |       substr(text, CAST(i * 80 + 1 AS INTEGER), 100) AS chunk,
      |       CAST(length(substr(text, CAST(i * 80 + 1 AS INTEGER), 100))
      |            AS INTEGER) AS chunk_len
      |FROM documents, unnest(range(0, greatest(n_chars - 1, 0) // 80 + 1)) AS t(i)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-Res),
    * fully deterministic: the per-row uniform u is a 52-bit slice of
    * xxhash64(key, seed), so membership is reproducible across reruns
    * and cluster layouts — p18's hash-sample guarantee, generalized to
    * inclusion probability scaled by a positive weight column (the
    * token-budget-aware mixture draw: long/high-quality documents
    * sampled proportionally more often).
    *
    * A-Res selects the top-n rows by u^(1/w). We order by ln(u)/w,
    * which is the SAME order (ln is monotone, w > 0, both sides
    * negative) without pow. The top-n runs as TakeOrderedAndProject —
    * per-partition bounded heaps merged on the driver, never a global
    * sort; map-only otherwise, like every sampler in this engine.
    *
    * Rows-only (no SQL oracle): ln is not correctly rounded across
    * engines, so a DuckDB twin could flip a boundary element on a
    * last-ulp disagreement. PropertySpec pins the exact top-n-by-key
    * semantics against the collected key column, determinism under
    * repartitioning, subset monotonicity in n, and weight-proportional
    * inclusion statistics across seeds instead.
    */
  /** A-Res ordering key ln(u)/w for [[weightedSample]] /
    * [[weightedSampleBy]] — package-private so property tests can rank
    * by the exact key the sampler uses. The weight is validated IN-PLAN
    * (TwoLevel precondition style): w <= 0 would make ln(u)/w silently
    * drop the row (w = 0 → -Inf) or always select it (w < 0 → positive
    * key), and NaN poisons the ordering — all three raise instead.
    */
  private[graft] def aresKey(keyCol: String, weight: Column, seed: Long): Column = {
    val m = pmod(xxhash64(col(keyCol), lit(seed)), lit(1L << 52))
    val u = (m.cast("double") + lit(1.0)) / lit((1L << 52).toDouble + 1.0)
    val wd = weight.cast("double")
    // NB: Spark SQL orders NaN ABOVE every other double (unlike IEEE
    // comparisons), so `wd > 0.0` alone would let NaN through — the
    // isnan check is load-bearing.
    val wOk = when(wd > 0.0 && !isnan(wd), wd).otherwise(raise_error(concat(
      lit("weightedSample: weight must be > 0 (and not NaN/NULL), got "),
      coalesce(wd.cast("string"), lit("NULL")))))
    log(u) / wOk
  }

  /** Scratch column for the sampler's ordering key; rejected loudly on
    * the input (it would clash) and dropped from the output.
    */
  private val WkeyCol = "__wkey"

  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     n: Int, seed: Long): DataFrame = {
    require(!df.columns.contains(WkeyCol),
      s"weightedSample: input carries reserved internal column $WkeyCol — " +
        "rename it before calling")
    df.withColumn(WkeyCol, aresKey(keyCol, weight, seed))
      .orderBy(col(WkeyCol).desc, col(keyCol))
      .limit(n)
      .drop(WkeyCol)
  }

  /** Per-stratum weighted sample WITHOUT replacement: an independent
    * A-Res draw of `nPer` rows inside every value of `strataCol` — the
    * budgeted mixture draw p32's rebalance users actually want (each
    * source fills its own quota instead of competing in one global
    * pool). Strata smaller than `nPer` are returned whole.
    *
    * Scale shape: one hash shuffle on the stratum key, then a rank
    * window per stratum — no global sort, no driver merge; the window
    * state is one running counter per stratum. Same determinism
    * guarantee as [[weightedSample]] (the key is a pure hash of
    * (row key, seed)), and rows-only for the same ln() portability
    * reason — PropertySpec pins the exact per-stratum top-n-by-key
    * semantics, layout determinism, and per-stratum weight
    * proportionality instead.
    */
  def weightedSampleBy(df: DataFrame, strataCol: String, keyCol: String,
                       weight: Column, nPer: Int, seed: Long): DataFrame = {
    val scratch = Seq(WkeyCol, "__wrn")
    val clash = df.columns.filter(scratch.contains)
    require(clash.isEmpty,
      s"weightedSampleBy: input carries reserved internal column(s) " +
        s"${clash.mkString(", ")} — rename them before calling")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(WkeyCol).desc, col(keyCol))
    df.withColumn(WkeyCol, aresKey(keyCol, weight, seed))
      .withColumn("__wrn", row_number().over(w))
      .filter(col("__wrn") <= nPer)
      .drop(WkeyCol, "__wrn")
  }

  /** p42: the per-source budgeted mixture draw — 40 documents per
    * source, weighted by length.
    */
  def weightedSampleByQuery(s: SparkSession, d: String): DataFrame =
    weightedSampleBy(documents(s, d), "source", "doc_id",
        greatest(col("n_chars"), lit(1)), 40, seed = 42L)
      .select(col("doc_id"), col("n_chars"), col("source"))
      .orderBy(col("doc_id"))

  /** p39: the mixture draw over documents, weighted by length. */
  def weightedSampleQuery(s: SparkSession, d: String): DataFrame =
    weightedSample(documents(s, d), "doc_id",
        greatest(col("n_chars"), lit(1)), 500, seed = 42L)
      .select(col("doc_id"), col("n_chars"), col("source"))
      .orderBy(col("doc_id"))

  /** Temperature-scaled multi-source mixing — the standard multilingual
    * LM sampling scheme (mT5/XLM-R alpha-sampling): source i's share of
    * the document budget is proportional to n_i^alpha with alpha = 1/2,
    * flattening the source distribution so head sources stop drowning
    * the tail (p32's flat per-stratum cut has no notion of a global
    * budget; p42's weighted draw has no cross-source re-weighting —
    * this is the third leg of the mixing family).
    *
    * Every arithmetic step is engine-exact by construction, so the
    * DuckDB twin matches by hash with no ln()/rand() hazard:
    * sqrt is correctly rounded (IEEE 754), the normalizer W folds
    * sqrt(n_i) over sources IN SOURCE ORDER (sequential `aggregate`
    * over a sorted collect_list — the same in-order-fold device as the
    * cosine oracles), quota = floor(budget * w / W) is three
    * correctly-rounded ops, and in-source selection is the
    * deterministic md5 rank p32 established.
    *
    * Scale shape: the per-source count table is tiny (sources number in
    * the thousands at most) — aggregate to it, fold W inside its single
    * row, broadcast the quota table; the corpus pays ONE hash shuffle
    * on the source key + a rank window (the p42 shape). No global sort,
    * no driver-side loop.
    */
  def mixTemperature(docs: DataFrame, budget: Int): DataFrame = {
    // ONE thin pass builds the whole quota table: per-source counts,
    // then the sorted fold for W and the per-source quotas both unfold
    // from a single collected row (sources are model-sized by
    // declaration) — the counts subtree is never evaluated twice, and
    // the count scan reads only the source column (column pruning).
    val quotas = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(array_sort(collect_list(struct(col("source"), col("n")))).as("cs"))
      .withColumn("W",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + sqrt(x.getField("n"))))
      .select(explode(col("cs")).as("c"), col("W"))
      .select(col("c.source").as("source"),
              floor(lit(budget.toDouble) * sqrt(col("c.n")) / col("W")).as("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rnk", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter(col("rnk") <= col("quota"))
  }

  /** p43: the alpha = 1/2 mixture over sources, budget 200 docs. */
  def mixTemperatureQuery(s: SparkSession, d: String): DataFrame =
    mixTemperature(documents(s, d), budget = 200)
      .select(col("doc_id"), col("source"), col("rnk"), col("quota"))
      .orderBy(col("doc_id"))

  val mixTemperatureOracle: String =
    """WITH counts AS (
      |  SELECT source, count(*) AS n FROM documents GROUP BY source),
      |tot AS (
      |  SELECT list_sum(list(sqrt(n) ORDER BY source)) AS W FROM counts),
      |quotas AS (
      |  SELECT source, floor(200.0 * sqrt(n) / (SELECT W FROM tot)) AS quota
      |  FROM counts),
      |r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      |  FROM documents)
      |SELECT r.doc_id, r.source, CAST(r.rnk AS INTEGER) AS rnk,
      |       CAST(q.quota AS BIGINT) AS quota
      |FROM r JOIN quotas q USING (source)
      |WHERE r.rnk <= q.quota
      |ORDER BY r.doc_id""".stripMargin

  /** Duplicated-span extraction — the span-level form of exact dedup
    * (the "dedup the substring, keep the document" operation from the
    * training-data-dedup literature): hash every `SpanW`-token window
    * of every document, find windows whose hash occurs more than once
    * CORPUS-WIDE, and merge each document's overlapping duplicated
    * windows into maximal (span_start, span_end) token intervals. The
    * output is the cut-list a curation pipeline applies to remove
    * boilerplate/mirrored spans without dropping the documents that
    * contain them.
    *
    * Everything after the window hash is INTEGER arithmetic (interval
    * merge = the classic gaps-and-islands running-max device, like
    * q18's sessionize), so the whole output is bit-exact cross-engine.
    * The window hash is md5 of the joined window text — the
    * oracle-replayable choice (p01/p02 precedent); at scale swap in
    * xxhash64 to shuffle 8-byte longs instead of 32-char strings
    * (the plan shape is unchanged).
    *
    * Scale shape: window expansion is one map-side explode (~dl rows
    * per doc); ONE hash shuffle on the window hash feeds both the
    * df-filter aggregate and the join back (the lazily-checkpointed
    * expansion runs once, the exchange is reused); the island merge is
    * one hash shuffle on doc_id with a per-doc sorted window — keyed
    * and parallel, no global ordering anywhere.
    */
  private val SpanW = 10

  def dupSpans(s: SparkSession, d: String): DataFrame =
    dupSpansOf(documents(s, d))

  /** Oracle-replayable form: md5 window hash (see scaladoc above). */
  def dupSpansOf(docs: DataFrame): DataFrame =
    dupSpansImpl(docs, "md5(array_join(slice(w, i + 1, %d), ' '))")

  /** The documented at-scale twin: xxhash64 window hash, so the
    * corpus-sized window shuffle carries 8-byte longs instead of
    * 32-char md5 strings (~4× narrower rows through the one big
    * exchange). Plan shape identical to [[dupSpansOf]]; output
    * identical on any corpus free of cross-text window-hash collisions
    * (DedupSpec pins equality on real data — a 64-bit collision inside
    * one corpus' repeated-window set is a ~2⁻⁶⁴-per-pair event, the
    * standard fingerprint-dedup wager, p02 precedent). Not the oracle
    * form only because DuckDB has no xxhash64 to replay.
    */
  def dupSpansOfXx(docs: DataFrame): DataFrame =
    dupSpansImpl(docs, "xxhash64(array_join(slice(w, i + 1, %d), ' '))")

  private def dupSpansImpl(docs: DataFrame, winHashFmt: String): DataFrame = {
    val winHash = winHashFmt.format(SpanW)
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= SpanW)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $SpanW), " +
          s"i -> struct(i AS i, $winHash AS h))"))
        .as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.h").as("h"))
      .localCheckpoint(eager = false)
    val repeated = wins.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val dup = wins.join(repeated, "h")
      .select(col("doc_id"), col("i"), (col("i") + lit(SpanW - 1)).as("e"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val prevMaxEnd = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dup
      .withColumn("ni", when(col("i") <= coalesce(prevMaxEnd, lit(-1)), 0).otherwise(1))
      .withColumn("island", sum(col("ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("span_start"), max(col("e")).as("span_end"),
           count(lit(1)).as("n_windows"))
    spans.select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The p51 window/island CTE chain, shared with the p52 coverage
    * oracle so both replay one definition of "duplicated span".
    */
  private val dupSpanCte: String =
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wins AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
       |           md5(array_to_string(w[i+1 : i+$SpanW], ' ')) AS h
       |         FROM ws, unnest(range(0, len(w) - ${SpanW - 1})) t(i)
       |         WHERE len(w) >= $SpanW),
       |dfreq AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
       |dup AS (SELECT doc_id, i, i + ${SpanW - 1} AS e FROM wins
       |        WHERE h IN (SELECT h FROM dfreq)),
       |marked AS (SELECT doc_id, i, e,
       |             CASE WHEN i <= coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |               THEN 0 ELSE 1 END AS ni
       |           FROM dup),
       |isl AS (SELECT doc_id, i, e,
       |          sum(ni) OVER (PARTITION BY doc_id ORDER BY i
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |        FROM marked)""".stripMargin

  val dupSpansOracle: String =
    s"""WITH $dupSpanCte
       |SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
       |       CAST(max(e) AS INTEGER) AS span_end,
       |       count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  /** Per-document duplicated-token coverage — the scalar the span
    * extractor feeds a curation threshold ("drop or trim documents
    * more than X% duplicated"): token count, tokens inside p51's
    * maximal duplicated spans, span count, and the floor-quantized
    * coverage ratio (the novelty_q device — one IEEE multiply+divide+
    * floor, bit-identical anywhere). Documents with no duplicated
    * span surface with zeros via the left join.
    *
    * Scale shape: p51's shuffles plus one doc-keyed roll-up and a
    * left join against the thin (doc_id, dl) projection — co-keyed
    * with the roll-up, so the join reuses its exchange.
    */
  def dupSpanCoverage(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val per = dupSpansOf(docs)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + lit(1)).as("dup_tokens"),
           count(lit(1)).as("n_spans"))
    val dt = coalesce(col("dup_tokens"), lit(0L))
    docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dl"), dt.as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        floor(lit(1e6) * dt.cast("double") / col("dl")).as("coverage_q"))
      .orderBy(col("doc_id"))
  }

  val dupSpanCoverageOracle: String =
    s"""WITH $dupSpanCte,
       |spans AS (SELECT doc_id, island, min(i) AS s, max(e) AS e2
       |          FROM isl GROUP BY doc_id, island),
       |per AS (SELECT doc_id, CAST(sum(e2 - s + 1) AS BIGINT) AS dup_tokens,
       |               count(*) AS n_spans
       |        FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INTEGER) AS dl,
       |       coalesce(p.dup_tokens, 0) AS dup_tokens,
       |       coalesce(p.n_spans, 0) AS n_spans,
       |       CAST(floor(1e6 * coalesce(p.dup_tokens, 0)
       |                  / len(string_split(d.text, ' '))) AS BIGINT) AS coverage_q
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Frequency-ranked vocabulary build + token-id encoding — the
    * tokenize-to-ids step in front of sequence packing (p31): the top
    * `VocabSize` terms by (count desc, term asc) become ids 0..N-1 (a
    * deterministic rank, so the SAME corpus always yields the SAME
    * vocabulary), and every token position encodes to its id, with -1
    * as the out-of-vocabulary sentinel. Output is one (doc_id, pos,
    * token_id) row per token — fully integer, hash-exact.
    *
    * Scale shape: the vocabulary is one (term) aggregate cut to a
    * bounded top-n (TakeOrderedAndProject — per-partition heaps, no
    * global sort) and ranked on the model-sized result; encoding is a
    * broadcast join against that model — the corpus pays ONE pass, no
    * corpus-sized shuffle at all. A real BPE vocab swaps the term
    * aggregate for merged-pair iteration; the encode shape (broadcast
    * model, map-side id lookup) is unchanged.
    */
  private val VocabSize = 30

  def vocabEncode(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val ord = Seq(col("c").desc, col("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(ord: _*).limit(VocabSize)
      .withColumn("token_id", row_number().over(Window.orderBy(ord: _*)) - 1)
      .select(col("term"), col("token_id"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val vocabEncodeOracle: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos, w[t.i] AS term
       |         FROM ws, unnest(range(1, len(w) + 1)) t(i)),
       |counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
       |vocab AS (SELECT term,
       |            CAST(row_number() OVER (ORDER BY c DESC, term) - 1 AS INTEGER)
       |              AS token_id
       |          FROM counts QUALIFY token_id < $VocabSize)
       |SELECT t.doc_id, t.pos, coalesce(v.token_id, -1) AS token_id
       |FROM toks t LEFT JOIN vocab v ON t.term = v.term
       |ORDER BY t.doc_id, t.pos""".stripMargin

  /** p98: DETOKENIZE + round-trip verification — the inverse of p53's
    * encode and the guard a tokenizer deployment actually ships with:
    * encode every document to ids, decode the ids back through the
    * same vocabulary (OOV sentinel -1 → `<unk>`), and verify the
    * round trip reproduces the original text EXACTLY whenever the
    * document contains no OOV token. A corpus whose round_trip_ok
    * rate drops after a vocab rebuild has a broken tokenizer deploy —
    * this table is how that regression is caught before training.
    *
    * Scale shape: identical to p53 — the vocabulary is the bounded
    * top-n model, BOTH the encode and the decode joins broadcast it,
    * and the only corpus-keyed work is the doc-ordered re-aggregation.
    */
  def detokenize(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val toks = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val ord = Seq(col("c").desc, col("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(ord: _*).limit(VocabSize)
      .withColumn("token_id", row_number().over(Window.orderBy(ord: _*)) - 1)
      .select(col("term"), col("token_id"))
    val enc = toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))
    val dec = enc
      .join(broadcast(vocab.select(col("token_id"),
        col("term").as("dterm"))), Seq("token_id"), "left")
      .select(col("doc_id"), col("pos"),
        (col("token_id") === -1).cast("long").as("unk"),
        coalesce(col("dterm"), lit("<unk>")).as("dterm"))
    val agg = dec.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("unk")).as("n_unk"),
        concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, dterm)))," +
               " x -> x.dterm)")).as("decoded"))
    docs.join(agg, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        (col("n_unk") === 0 && col("decoded") === col("text"))
          .as("round_trip_ok"))
      .orderBy(col("doc_id"))
  }

  val detokenizeOracle: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |toks AS (SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos, w[t.i] AS term
       |         FROM ws, unnest(range(1, len(w) + 1)) t(i)),
       |counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
       |vocab AS (SELECT term,
       |            CAST(row_number() OVER (ORDER BY c DESC, term) - 1 AS INTEGER)
       |              AS token_id
       |          FROM counts QUALIFY token_id < $VocabSize),
       |dec AS (SELECT t.doc_id, t.pos,
       |               CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS unk,
       |               coalesce(v.term, '<unk>') AS dterm
       |        FROM toks t LEFT JOIN vocab v ON t.term = v.term),
       |agg AS (SELECT doc_id, count(*) AS n_tokens,
       |               CAST(sum(unk) AS BIGINT) AS n_unk,
       |               string_agg(dterm, ' ' ORDER BY pos) AS decoded
       |        FROM dec GROUP BY doc_id)
       |SELECT d.doc_id, a.n_tokens, a.n_unk,
       |       (a.n_unk = 0 AND a.decoded = d.text) AS round_trip_ok
       |FROM documents d JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Apply p51's cut-list: drop every token inside a duplicated span
    * and emit the cleaned text — the third leg of the span family
    * (detect p51 → score p52 → CUT p54). Policy: every occurrence of a
    * duplicated window is cut (symmetric and deterministic — exact
    * whole-document duplicates therefore empty on all copies); keep-one
    * semantics at document granularity is p28/p01's canonical-survivor
    * job, which composes in front of this.
    *
    * Shape: per-doc cut intervals come back as a model-sized array
    * column (spans per doc are bounded by dl/window); the token filter
    * is a nested higher-order function — no explode, no extra shuffle
    * beyond p51's own: the corpus-side work after the span join is
    * pure map-side array surgery.
    */
  def applySpanCuts(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val cuts = dupSpansOf(docs)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e")))).as("cuts"))
    docs.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cuts").isNull, split(col("text"), " "))
          .otherwise(filter(split(col("text"), " "),
            (_, i) => size(filter(col("cuts"),
              c => c.getField("s") <= i && i <= c.getField("e"))) === 0))
          .as("kept"))
      .select(col("doc_id"), array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  val applySpanCutsOracle: String =
    s"""WITH $dupSpanCte,
       |sp AS (SELECT doc_id, min(i) AS s, max(e) AS e2
       |       FROM isl GROUP BY doc_id, island),
       |cuts AS (SELECT doc_id, list({'s': s, 'e': e2} ORDER BY s) AS cuts
       |         FROM sp GROUP BY doc_id),
       |kept AS (SELECT d.doc_id,
       |           CASE WHEN c.cuts IS NULL THEN string_split(d.text, ' ')
       |                ELSE list_filter(string_split(d.text, ' '), (x, i) ->
       |                       len(list_filter(c.cuts,
       |                         cc -> cc.s <= i-1 AND i-1 <= cc.e)) = 0)
       |           END AS kept
       |         FROM documents d LEFT JOIN cuts c USING (doc_id))
       |SELECT doc_id,
       |       -- DuckDB's array_to_string of an EMPTY list is NULL where
       |       -- Spark's array_join is '' — normalize the emptied-doc case
       |       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       |       CAST(len(kept) AS INTEGER) AS n_kept
       |FROM kept ORDER BY doc_id""".stripMargin

  // ---- BPE merge training (p69) ----

  /** Distributed byte-pair-encoding merge training: learn the first k
    * merge rules of a BPE tokenizer from the corpus. Classic
    * frequency-weighted word-level BPE: start from the character split
    * of every distinct word, and per round (1) count adjacent symbol
    * pairs weighted by word frequency, (2) take the most frequent pair
    * (ties: lexicographic on (left, right) — deterministic), (3) fuse
    * every left-to-right non-overlapping occurrence of that pair into
    * one symbol.
    *
    * Scale shape — the reason this survives 100 TB: all k rounds run
    * on the DISTINCT-WORDS table (vocab-sized; the corpus compresses
    * into it by the one word-count shuffle up front, and Heaps' law
    * keeps |vocab| sublinear in corpus size). Each round is one
    * pair-count shuffle over that small table plus a 1-row argmax
    * collect (the Lloyd/centroid model-sized-collect contract), and
    * the merge applies map-side as a higher-order [[aggregate]] fold —
    * the fused symbol re-checks as fold carry, so a (x,x) rule over a
    * run of x fuses pairs left-to-right exactly like the sequential
    * algorithm. localCheckpoint keeps the per-round plan constant
    * (the p20/Lloyd loop device).
    *
    * Oracle: SQL recursion cannot aggregate over the recursive term,
    * but the rounds UNROLL as materialized CTEs (the p102/p107
    * device) — see [[bpeMergesOracle]], which re-derives the greedy
    * left-to-right merge by an INDEPENDENT algorithm (occurrence
    * islands + alternation) rather than mirroring the fold.
    */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    var words = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("sym"), col("freq"))
      .localCheckpoint(eager = false)
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val best = words.filter(size(col("sym")) > 1)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(col("sym")) - 1),
            j => struct(element_at(col("sym"), j).as("l"),
                        element_at(col("sym"), j + 1).as("r")))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .take(1)
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val fused = l + r
        out += ((rank, l, r, fused, n))
        val apply = aggregate(col("sym"),
          array().cast("array<string>"),
          (acc, s) => when(
              size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
            .otherwise(concat(acc, array(s))))
        words = words.select(apply.as("sym"), col("freq"))
          .localCheckpoint(eager = false)
        rank += 1
      }
    }
    out.result().toDF("rank", "left", "right", "merged", "n")
      .orderBy(col("rank"))
  }

  /** p69: the first 12 BPE merges of the `documents` corpus. */
  def bpeMergesQuery(s: SparkSession, d: String): DataFrame =
    bpeMerges(documents(s, d), k = 12)

  /** The 12 training rounds unrolled as materialized CTEs — each
    * round: pair counts over the previous round's symbol table, a
    * 1-row argmax (ties (n DESC, l, r), the engine's exact order), and
    * the merge APPLIED BY AN INDEPENDENT DERIVATION: instead of
    * mirroring the engine's left-to-right fold, occurrence positions
    * of the winning pair are grouped into consecutive-run islands
    * (the gaps-and-islands device, as p114's oracle) and every OTHER
    * member of an island merges — equivalent to the greedy scan
    * because overlapping occurrences require l = r runs, where greedy
    * keeps exactly the alternating positions. A round with no pairs
    * left yields an empty argmax and empty merges from there on,
    * matching the engine's early exhaustion. AS MATERIALIZED keeps
    * the unrolled chain linear in rounds (the p102 lesson).
    */
  val bpeMergesOracle: String = {
    val k = 12
    val rounds = (1 to k).map { t =>
      val p = t - 1
      s"""pc$t AS MATERIALIZED (
         |  SELECT sym[i] AS l, sym[i+1] AS r, sum(freq) AS n
         |  FROM w$p, unnest(range(1, len(sym))) AS t(i)
         |  WHERE len(sym) > 1
         |  GROUP BY 1, 2),
         |b$t AS MATERIALIZED (
         |  SELECT l, r, l || r AS m, n FROM pc$t ORDER BY n DESC, l, r
         |  LIMIT 1),
         |pos$t AS MATERIALIZED (
         |  SELECT w.word, p.i, w.sym[p.i] AS s, w.freq
         |  FROM w$p w, unnest(range(1, len(w.sym) + 1)) AS p(i)),
         |keep$t AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, i - min(i) OVER (PARTITION BY word, grp)
         |             AS off
         |    FROM (SELECT p.word, p.i,
         |                 p.i - row_number() OVER (PARTITION BY p.word
         |                       ORDER BY p.i) AS grp
         |          FROM pos$t p JOIN b$t b ON p.s = b.l
         |          JOIN pos$t q ON q.word = p.word AND q.i = p.i + 1
         |           AND q.s = b.r))
         |  WHERE off % 2 = 0),
         |w$t AS MATERIALIZED (
         |  SELECT p.word,
         |         list(CASE WHEN k.i IS NOT NULL THEN (SELECT m FROM b$t)
         |                   ELSE p.s END ORDER BY p.i) AS sym,
         |         p.freq
         |  FROM pos$t p
         |  LEFT JOIN keep$t k ON k.word = p.word AND k.i = p.i
         |  LEFT JOIN keep$t kp ON kp.word = p.word AND kp.i = p.i - 1
         |  WHERE kp.i IS NULL
         |  GROUP BY p.word, p.freq)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to k).map { t =>
      s"""SELECT CAST($t AS INTEGER) AS rank, l AS "left", r AS "right",
         |       m AS merged, CAST(n AS BIGINT) AS n FROM b$t""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, string_split(word, '') AS sym, freq FROM (
       |    SELECT word, count(*) AS freq
       |    FROM (SELECT unnest(string_split(text, ' ')) AS word
       |          FROM documents)
       |    GROUP BY word)),
       |$rounds
       |SELECT * FROM (
       |$finalSel)
       |ORDER BY rank""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p51_dup_spans", dupSpans, Some(dupSpansOracle)),
    QuerySpec("p52_dup_span_coverage", dupSpanCoverage,
      Some(dupSpanCoverageOracle)),
    QuerySpec("p53_vocab_encode", vocabEncode, Some(vocabEncodeOracle)),
    QuerySpec("p98_detokenize", detokenize, Some(detokenizeOracle)),
    QuerySpec("p54_apply_span_cuts", applySpanCuts, Some(applySpanCutsOracle)),
    QuerySpec("p34_shingle_novelty", shingleNovelty,
      Some(shingleNoveltyOracle)),
    QuerySpec("p35_incremental_dedup", incrementalDedup,
      Some(incrementalDedupOracle)),
    QuerySpec("p36_provenance_merge", provenanceMerge,
      Some(provenanceMergeOracle)),
    QuerySpec("p37_dup_rate_by_source", dupRateBySource,
      Some(dupRateBySourceOracle)),
    QuerySpec("p38_chunk_overlap", chunkOverlap, Some(chunkOverlapOracle)),
    // rows-only: ln() is not correctly rounded across engines, so an
    // oracle could flip a boundary row; PropertySpec pins both draws
    QuerySpec("p39_weighted_sample", weightedSampleQuery, None),
    QuerySpec("p42_weighted_sample_by", weightedSampleByQuery, None),
    QuerySpec("p43_mix_temperature", mixTemperatureQuery,
      Some(mixTemperatureOracle)),
    QuerySpec("p69_bpe_merges", bpeMergesQuery, Some(bpeMergesOracle),
      Pricing.Training),
  )
}
