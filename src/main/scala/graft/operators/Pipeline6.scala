package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.{Pricing, QuerySpec}
import graft.functions.VectorOps.{cosine, dot}

/** Pipeline operators, batch 6: the retrieval layer over a curated
  * corpus — lexical ranking (BM25), lexical+vector hybrid fusion (RRF),
  * and product quantization (PQ codes + asymmetric-distance search).
  * Together with the ANN family ([[Similarity]]) these make the engine
  * a complete retrieval stack: exact vector (p09), LSH (p10/p40), IVF
  * (p13/p41), lexical (p45), hybrid (p46), and compressed (p47/p48).
  *
  * Cross-engine exactness notes (the differential-oracle contract):
  *  - Every floating sum that folds more than one data-dependent term
  *    is written as a FIXED-ORDER expression (conditional-sum pivot or
  *    literal left-assoc chain), never a `sum()` over a nondeterministic
  *    row order — the p43 device.
  *  - BM25's `ln` is the one non-correctly-rounded primitive in this
  *    file. It is safe here, measured, not assumed: at sf0.01 the
  *    minimum gap between distinct scores is 3.9e-6 and the minimum
  *    distance of any score to a round(…,4) boundary is 1.0e-7, while a
  *    1-ulp `ln` disagreement perturbs a score by ~1e-16 — nine orders
  *    of magnitude of margin. (Contrast p39, where ln sits inside a
  *    top-n SELECTION over 52-bit-dense hash keys and a last-ulp flip
  *    can change membership — that one is rows-only by design.)
  *  - All PQ distances avoid ad-hoc float folds entirely: squared L2 is
  *    computed as ((a·a − 2(a·b)) + b·b) from three [[dot]] products —
  *    the one vector primitive with an established bit-exact DuckDB
  *    mirror (`list_dot_product`) — so codes, errors, and ADC scores
  *    carry full hash-checked oracles with no quantization hedge.
  */
object Pipeline6 {

  // ---- BM25 lexical ranking (p45) ----

  /** The fixed query-term set, ASCII-sorted; the per-document score fold
    * adds the per-term contributions in exactly this order (both
    * engines), making the sum order-deterministic.
    */
  private val QTerms = Seq("merge", "stream", "vector")
  private val K1 = 1.2
  private val B  = 0.75

  /** Okapi BM25 (Lucene idf variant: ln(1 + (N−df+0.5)/(df+0.5)), always
    * positive) of every document against [[QTerms]] → (doc_id, score),
    * unrounded; only documents containing at least one query term
    * appear.
    *
    * Scale shape — the classic "search without an inverted index" plan:
    *  - Tokenize + KEEP ONLY QUERY TERMS map-side: the explode is
    *    filtered before anything shuffles, so shuffle volume is
    *    occurrences of the ≤|Q| query terms, not the corpus token
    *    stream.
    *  - tf: one hash aggregate keyed (doc_id, dl, term) over those
    *    occurrences. df derives from tf by a second, strictly smaller
    *    aggregate (distinct docs per term ≤ |Q| rows out); the shared
    *    tf subtree plans twice but its exchange is reused at runtime.
    *  - N and avgdl: one tiny corpus aggregate — integer count + integer
    *    token-sum (exact), ONE double division at the end — broadcast as
    *    a 1-row frame. df (≤|Q| rows) broadcasts likewise, so scoring is
    *    map-side over the tf rows.
    *  - The per-document score folds its ≤|Q| term contributions with
    *    one conditional sum per term added in [[QTerms]] order — each
    *    `sum(when(term = t, …))` sees at most one row, so the group-by
    *    is order-insensitive and the final 3-term addition is a literal
    *    left-assoc chain, bit-identical in any engine.
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String] = QTerms): DataFrame = {
    val q = terms.distinct.sorted
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val stats = ws.agg(count(lit(1)).as("n"), sum(size(col("w"))).as("sdl"))
    val tf = ws
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(q: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25FromPostings(tf, stats, q)
  }

  /** Generic-query BM25 top-k over any document frame — the library
    * entry point behind `Engine.bm25Search`; p45 is this with the
    * oracle-pinned [[QTerms]]. Terms are deduped and ASCII-sorted so
    * the score fold order is a function of the term SET.
    */
  def bm25TopKOf(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    topNRanked(bm25Scores(docs, terms),
        Seq(col("score").desc, col("doc_id")), k, "rnk")
      .select(col("doc_id"), round(col("score"), 4).as("bm25"), col("rnk"))
      .orderBy(col("rnk"))

  /** The BM25 scoring tail over a term-frequency table
    * (doc_id, dl, term, tf — already restricted to the query terms) and
    * a 1-row corpus-stats frame (n, sdl) — shared verbatim by the
    * scan-time path ([[bm25Scores]]) and the stored-index path
    * ([[bm25TopKStored]]), so the layout cannot drift from the
    * semantics. df derives from the tf rows (identical either way:
    * distinct docs per query term).
    */
  private def bm25FromPostings(tf: DataFrame, stats: DataFrame,
                               terms: Seq[String] = QTerms,
                               dfViaWindow: Boolean = false): DataFrame = {
    val avgdl = col("sdl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * ((col("tf") * lit(K1 + 1.0)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + (lit(B) * col("dl")) / avgdl)))
    // df (docs per term) attaches one of two plan-equivalent ways — the
    // per-row numbers are identical, so the float fold cannot drift:
    //  - scan path: aggregate + broadcast join. tf sits on its groupBy
    //    exchange, so the df subtree REUSES it — the corpus tokenize
    //    runs once.
    //  - stored path (dfViaWindow): count() over a term window. The
    //    bucketed scan is already hash-partitioned by term, so the
    //    window is a local sort — and crucially there is no second
    //    subtree, so the bucket-pruned FILE SCAN RUNS ONCE. With the
    //    join form the stored path scanned its pruned buckets twice
    //    (no exchange to reuse below a bucketed scan) — measured at 2×
    //    probe bytes by tools/ScaleProbe before this split.
    val withDf =
      if (dfViaWindow)
        tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      else
        tf.join(broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df"))), "term")
    val scored = withDf
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("contrib"))
    val termSums = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("contrib"))).as(s"__c$i")
    }
    scored.groupBy(col("doc_id"))
      .agg(termSums.head, termSums.tail: _*)
      .select(col("doc_id"),
        terms.indices.map(i => coalesce(col(s"__c$i"), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
  }

  /** Bounded top-n by an ordering, with the rank attached AFTER the cut:
    * `orderBy.limit(n)` plans as TakeOrderedAndProject (per-partition
    * heaps merged on the driver — never a global sort), and the
    * row_number window then runs on the n-row, model-sized result. The
    * rank a row gets inside the cut equals its global rank because the
    * ordering is total (every caller ties on a unique id).
    */
  private def topNRanked(df: DataFrame, order: Seq[Column], n: Int,
                         rankCol: String): DataFrame =
    df.orderBy(order: _*).limit(n)
      .withColumn(rankCol, row_number().over(Window.orderBy(order: _*)))

  /** p45: BM25 top-20 over the fixed query — (doc_id, bm25, rnk). */
  def bm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopKOf(documents(s, d), QTerms, 20)

  /** Persist the full inverted index: one posting row per (term, doc)
    * — (term, doc_id, dl, tf) — BUCKETED by term
    * ([[graft.sources.Bucketed.writeBucketed]]), plus a 1-row
    * corpus-stats table (N, total token count) as index metadata. This
    * is the at-rest lexical layout, the search-engine twin of the IVF
    * cell store: a query's `term IN (…)` predicate prunes the scan to
    * the buckets its terms hash into (`SelectedBucketsCount` in the
    * plan, pinned by PlanSpec), so a 3-term query over a 100 TB corpus
    * reads 3 buckets' worth of postings, not the corpus — and the
    * postings are (int, int) rows, not text. Build is one tokenize +
    * one (term, doc) aggregate; the bucket write pays the term shuffle
    * ONCE and every query amortizes it.
    */
  /** Drop a managed table AND its leftover warehouse directory. With
    * the default in-memory catalog every JVM starts blank, so a table
    * written by a previous process survives only as an orphaned
    * directory — `saveAsTable(Overwrite)` then fails with
    * LOCATION_ALREADY_EXISTS because to the fresh catalog it is a
    * CREATE. Index builds must be restart-safe, so clear both.
    */
  private def dropStaleTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** The posting-row form — (term, doc_id, dl, tf, positions) — shared
    * by the index build and the streaming ingest so the two write
    * paths cannot diverge. `positions` holds the term's 1-based token
    * positions, sorted (deterministic despite collect_list's arrival
    * order): POSITIONAL postings make phrase/proximity queries
    * answerable from the index ([[phraseTopKStored]]). BM25 readers
    * never select the column, so parquet column pruning keeps their
    * scans exactly as thin as the position-free layout (pinned in
    * PlanSpec) — one index serves both query classes.
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"),
              posexplode(col("w")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"),
           array_sort(collect_list(col("pos") + 1)).as("positions"))

  /** Lexical index sizing report: the terms that dominate the posting
    * store, with document frequency, total occurrences, and BM25 idf —
    * the p44 cell-balance twin for the lexical layout. High-df terms
    * are the skew hazard of a term-bucketed store (a stop word's
    * posting list is corpus-sized while the median term's is a handful
    * of rows) and the idf column says what the ranker actually pays
    * for keeping them; this report is what sizes a stop-list or a
    * df-cap before [[postingsWrite]].
    *
    * Scale shape: one shuffle keyed by term (the same key the store
    * buckets by), a 1-row corpus count broadcast into the idf
    * expression, and a global top-N on (df, term) — N model-sized.
    * idf rounds at 4 with the file-header ln-margin argument.
    */
  def lexStatsOf(docs: DataFrame, topN: Int): DataFrame = {
    val byTerm = postingsOf(docs)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("tf_total"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    byTerm.crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("tf_total"),
        round(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)), 4).as("idf"))
      .orderBy(col("df").desc, col("term")).limit(topN)
  }

  /** p68: the 20 heaviest terms of the `documents` corpus. */
  def lexStats(s: SparkSession, d: String): DataFrame =
    lexStatsOf(documents(s, d), 20)

  val lexStatsOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tt AS (
      |  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf_total
      |  FROM tok GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT term, df, tf_total,
      |       round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 4) AS idf
      |FROM tt CROSS JOIN n
      |ORDER BY df DESC, term LIMIT 20""".stripMargin

  /** Corpus stats (doc count, total token count) recovered EXACTLY from
    * posting rows: every document owns at least one posting (an empty
    * text still tokenizes to one empty token) and carries its dl on
    * every row — so the staged postings of an ingest batch are
    * self-describing and no separate stats dataset needs to be staged.
    * The sums are coalesced so a ZERO-ROW batch (foreachBatch can
    * deliver empty micro-batches) folds as (0, 0) instead of a NULL
    * that would crash — and permanently poison — the merge.
    */
  private[graft] def statsOfPostings(postings: DataFrame): DataFrame =
    postings.select(col("doc_id"), col("dl")).distinct()
      .agg(coalesce(count(lit(1)), lit(0L)).as("n"),
           coalesce(sum(col("dl")).cast("long"), lit(0L)).as("sdl"))

  /** The stats table is APPEND-ONLY: one (batch_id, n, sdl) row per
    * ingest unit — batch_id -1 for the initial build, the staged batch
    * id for each streamed merge. Readers fold with `sum`, which on
    * longs is exact and order-free, so BM25's idf/avgdl never drift.
    * Append-only matters for crash safety: a merge COMMITS a batch by
    * appending its stats row (one atomic parquet job), never by
    * rewriting an accumulated row — so there is no read-modify-write
    * window in which a crash can lose or double-fold a batch.
    */
  def postingsWrite(docs: DataFrame, table: String, nBuckets: Int): Unit = {
    dropStaleTable(docs.sparkSession, table)
    dropStaleTable(docs.sparkSession, s"${table}_stats")
    // a fresh store must not inherit a previous build's takedown
    // completion ledger: a stale done record sharing a retraction id
    // would mask a genuinely stranded takedown from the admission guard
    dropStaleTable(docs.sparkSession, s"${table}_retract_done")
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    graft.sources.Bucketed.writeBucketed(
      postingsOf(docs).withColumn("ingest_batch", lit(-1L)),
      table, "term", nBuckets)
    ws.agg(lit(-1L).as("batch_id"), count(lit(1)).as("n"),
           sum(size(col("w"))).cast("long").as("sdl"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_stats")
  }

  /** Fold the append-only per-batch stats rows to the 1-row (n, sdl)
    * frame the scoring tail consumes — exact long addition.
    */
  private def foldedStats(spark: SparkSession, table: String): DataFrame =
    spark.table(s"${table}_stats")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
           coalesce(sum(col("sdl")), lit(0L)).as("sdl"))

  /** TOMBSTONE-AWARE term-pruned scan of a stored posting table: the
    * bucket-pruned scan with the table directory's pending deferred
    * takedowns ([[graft.streaming.StreamingOps.lexicalRetractDeferred]])
    * anti-joined out — withdrawn documents stop ranking IMMEDIATELY,
    * before the compaction that removes their rows physically. The term
    * filter stays directly on the table scan (bucket pruning and
    * pushdown untouched); with no zone the frame passes through and the
    * plan is bit-identical to the eager-store one (one fs.exists). All
    * three stored probe families (BM25, phrase, proximity) read through
    * here, the every-reader contract of the deferred design.
    */
  private def storedPostings(spark: SparkSession, table: String,
                             terms: Seq[String]): DataFrame =
    graft.sources.Maintenance.minusTombstones(spark,
      graft.sources.Bucketed.tableLocation(spark, table),
      spark.table(table).filter(col("term").isin(terms: _*)))

  /** BM25 top-k over a stored [[postingsWrite]] index: the same scoring
    * tail as the scan-time path ([[bm25FromPostings]]) fed from the
    * bucket-pruned posting scan — same oracle as p45, the layout is
    * semantics-preserving.
    */
  def bm25TopKStored(spark: SparkSession, table: String, k: Int,
                     terms: Seq[String] = QTerms): DataFrame = {
    val q = terms.distinct.sorted
    val tf = storedPostings(spark, table, q)
    val scores = bm25FromPostings(tf, foldedStats(spark, table), q,
      dfViaWindow = true)
    topNRanked(scores, Seq(col("score").desc, col("doc_id")), k, "rnk")
      .select(col("doc_id"), round(col("score"), 4).as("bm25"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** p50: the stored-index BM25 path. The index is built once per JVM
    * per dataset (the p41/p49 index contract; table names are
    * dataset-keyed so scale factors never collide): warm reps measure
    * the steady-state pruned probe, not the build.
    */
  private val postingsStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def postingsStoreFor(s: SparkSession, d: String): String =
    postingsStores.computeIfAbsent(d, _ => {
      val t = "graft_postings_" + d.replaceAll("[^A-Za-z0-9]", "_")
      postingsWrite(documents(s, d), t, nBuckets = 8)
      t
    })

  def bm25Stored(s: SparkSession, d: String): DataFrame =
    bm25TopKStored(s, postingsStoreFor(s, d), k = 20)

  // ---- Phrase search over positional postings (p57 scan, p58 stored) ----

  /** The pinned phrase for the oracle-checked entries; library callers
    * pass any phrase to [[phraseTopKOf]]/[[phraseTopKStored]].
    */
  private val PhraseTerms = Seq("table", "hash")
  private val PhraseK = 20

  /** Phrase-match top-k from a positional posting frame (term, doc_id,
    * positions — already restricted to the phrase's terms): pivot each
    * distinct term's position array onto the document row (conditional
    * max — at most one posting per (doc, term), so the pivot is exact),
    * keep documents carrying ALL terms, and count phrase starts with
    * one higher-order array filter — position x starts a match iff
    * slot i's term has a position x+i for every i. ALL-INTEGER
    * arithmetic end to end (positions, adjacency, counts), so both the
    * scan-time and stored paths carry one full differential oracle.
    *
    * Scale shape: the input is the phrase terms' postings only (the
    * filter pushes below [[postingsOf]]'s aggregate on the scan path;
    * bucket pruning bounds the stored path), the pivot is one keyed
    * aggregate over those rows, the adjacency test is map-side, and
    * the cut is a bounded heap — the corpus never shuffles.
    */
  private def phraseFromPostings(pos: DataFrame, phrase: Seq[String],
                                 k: Int): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val terms = phrase.distinct
    val pivots = terms.zipWithIndex.map { case (t, j) =>
      max(when(col("term") === t, col("positions"))).as(s"__p$j")
    }
    val slotArr: Int => Column = i => col(s"__p${terms.indexOf(phrase(i))}")
    val tfExpr =
      if (phrase.length == 1) size(slotArr(0))
      else size(filter(slotArr(0), x =>
        (1 until phrase.length)
          .map(i => array_contains(slotArr(i), x + i))
          .reduce(_ && _)))
    val matched = pos.groupBy(col("doc_id")).agg(pivots.head, pivots.tail: _*)
      .filter(terms.indices.map(j => col(s"__p$j").isNotNull).reduce(_ && _))
      .select(col("doc_id"), tfExpr.cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
    topNRanked(matched, Seq(col("phrase_tf").desc, col("doc_id")), k, "rnk")
      .select(col("doc_id"), col("phrase_tf"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** Scan-time phrase top-k — tokenize, keep the phrase terms'
    * positional postings, match. The generic library entry behind
    * `Engine.phraseSearch`.
    */
  def phraseTopKOf(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame =
    phraseFromPostings(
      postingsOf(docs).filter(col("term").isin(phrase.distinct: _*))
        .select(col("term"), col("doc_id"), col("positions")),
      phrase, k)

  /** Phrase top-k over a stored [[postingsWrite]] index: the same
    * matching tail fed from the bucket-pruned posting scan — the scan
    * reads only the phrase terms' buckets and, thanks to columnar
    * layout, the positions column only for those buckets. Same oracle
    * as the scan path: the layout is semantics-preserving.
    *
    * Deployment note: set
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`
    * (as every session builder in this repo does) — Spark's
    * DisableUnnecessaryBucketedScan rule only values bucketing for
    * shuffle elimination, and since nothing downstream of a phrase
    * probe re-partitions by term it would silently drop the bucketed
    * scan AND the bucket pruning with it, turning the ≤|phrase|-bucket
    * read back into a full-index scan.
    */
  def phraseTopKStored(spark: SparkSession, table: String,
                       phrase: Seq[String], k: Int): DataFrame =
    phraseFromPostings(
      storedPostings(spark, table, phrase.distinct)
        .select(col("term"), col("doc_id"), col("positions")),
      phrase, k)

  /** p57: scan-time phrase match for the pinned phrase. */
  def phraseTopK(s: SparkSession, d: String): DataFrame =
    phraseTopKOf(documents(s, d), PhraseTerms, PhraseK)

  /** p58: the stored-index phrase path, sharing p50's posting store. */
  def phraseStored(s: SparkSession, d: String): DataFrame =
    phraseTopKStored(s, postingsStoreFor(s, d), PhraseTerms, PhraseK)

  // ---- Proximity search (p62 scan, p63 stored) ----

  private val ProxWindow = 6

  /** Proximity top-k from positional postings: documents ranked by the
    * number of (position-of-A, position-of-B) pairs within `w` tokens
    * of each other — the "terms NEAR each other" relevance signal that
    * phrase matching is the w=1-and-ordered special case of. Same
    * pivot device as [[phraseFromPostings]]; the pair count is one
    * nested higher-order fold over the two pivoted position arrays,
    * map-side, ALL-INTEGER — one oracle covers both the scan-time and
    * stored paths. Cost per doc is |P_A|·|P_B| inside codegen on
    * model-sized arrays; the corpus never shuffles.
    */
  private def proximityFromPostings(pos: DataFrame, termA: String,
                                    termB: String, w: Int, k: Int): DataFrame = {
    val pa = max(when(col("term") === termA, col("positions"))).as("__pa")
    val pb = max(when(col("term") === termB, col("positions"))).as("__pb")
    val pairCount = aggregate(col("__pa"), lit(0L),
      (acc, p1) => acc + size(filter(col("__pb"), p2 => abs(p2 - p1) <= w)))
    val matched = pos.groupBy(col("doc_id")).agg(pa, pb)
      .filter(col("__pa").isNotNull && col("__pb").isNotNull)
      .select(col("doc_id"), pairCount.cast("long").as("prox_tf"))
      .filter(col("prox_tf") > 0)
    topNRanked(matched, Seq(col("prox_tf").desc, col("doc_id")), k, "rnk")
      .select(col("doc_id"), col("prox_tf"), col("rnk"))
      .orderBy(col("rnk"))
  }

  /** Scan-time proximity top-k — `Engine.proximitySearch`. */
  def proximityTopKOf(docs: DataFrame, termA: String, termB: String,
                      w: Int, k: Int): DataFrame =
    proximityFromPostings(
      postingsOf(docs).filter(col("term").isin(Seq(termA, termB).distinct: _*))
        .select(col("term"), col("doc_id"), col("positions")),
      termA, termB, w, k)

  /** Stored-index proximity top-k — reads the two terms' buckets only
    * (same pruning argument as [[phraseTopKStored]]).
    */
  def proximityTopKStored(spark: SparkSession, table: String, termA: String,
                          termB: String, w: Int, k: Int): DataFrame =
    proximityFromPostings(
      storedPostings(spark, table, Seq(termA, termB).distinct)
        .select(col("term"), col("doc_id"), col("positions")),
      termA, termB, w, k)

  /** p62: scan-time proximity for the pinned pair/window. */
  def proximityTopK(s: SparkSession, d: String): DataFrame =
    proximityTopKOf(documents(s, d), PhraseTerms(0), PhraseTerms(1),
      ProxWindow, PhraseK)

  /** p63: the stored-index proximity path, sharing p50's store. */
  def proximityStored(s: SparkSession, d: String): DataFrame =
    proximityTopKStored(s, postingsStoreFor(s, d), PhraseTerms(0),
      PhraseTerms(1), ProxWindow, PhraseK)

  /** One oracle for both proximity paths: cross join of the two terms'
    * position sets filtered to |Δ| ≤ w, counted per doc.
    */
  val proximityTopKOracle: String =
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |pa AS (SELECT doc_id, i FROM ws, unnest(range(1, len(w) + 1)) t(i)
       |       WHERE w[CAST(i AS INT)] = '${PhraseTerms(0)}'),
       |pb AS (SELECT doc_id, i FROM ws, unnest(range(1, len(w) + 1)) t(i)
       |       WHERE w[CAST(i AS INT)] = '${PhraseTerms(1)}'),
       |m AS (SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS prox_tf
       |      FROM pa JOIN pb ON pb.doc_id = pa.doc_id
       |                     AND abs(pb.i - pa.i) <= $ProxWindow
       |      GROUP BY pa.doc_id),
       |top AS (SELECT doc_id, prox_tf,
       |          CAST(row_number() OVER (ORDER BY prox_tf DESC, doc_id)
       |               AS INTEGER) AS rnk
       |        FROM m)
       |SELECT doc_id, prox_tf, rnk
       |FROM top WHERE rnk <= $PhraseK ORDER BY rnk""".stripMargin

  /** One oracle for both phrase paths: per-slot position sets joined on
    * exact adjacency (slot j matches at start + j), counted per doc.
    */
  private def phraseOracle(phrase: Seq[String], k: Int): String = {
    val slotCtes = phrase.zipWithIndex.map { case (t, j) =>
      s"""p$j AS (SELECT doc_id, i FROM ws, unnest(range(1, len(w) + 1)) t(i)
         |        WHERE w[CAST(i AS INT)] = '$t')""".stripMargin
    }.mkString(",\n")
    val joins = (1 until phrase.length).map(j =>
      s"JOIN p$j ON p$j.doc_id = p0.doc_id AND p$j.i = p0.i + $j")
      .mkString("\n       ")
    s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |$slotCtes,
       |m AS (SELECT p0.doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
       |      FROM p0
       |      $joins
       |      GROUP BY p0.doc_id),
       |top AS (SELECT doc_id, phrase_tf,
       |          CAST(row_number() OVER (ORDER BY phrase_tf DESC, doc_id)
       |               AS INTEGER) AS rnk
       |        FROM m)
       |SELECT doc_id, phrase_tf, rnk
       |FROM top WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  val phraseTopKOracle: String = phraseOracle(PhraseTerms, PhraseK)

  /** The BM25 scoring pipeline as one SQL CTE chain (shared by the p45
    * and p46 oracles). Numeric literals are emitted with
    * `Double.toString` (shortest round-trip form), so DuckDB parses back
    * the exact doubles Spark computes with.
    */
  private def bm25Cte: String = bm25CteFrom("documents")

  /** The same chain over any corpus relation — the post-retraction
    * differential (p137) points it at the SURVIVING corpus.
    */
  private[operators] def bm25CteFrom(docsRel: String): String = {
    val terms = QTerms.map(t => s"'$t'").mkString(", ")
    val filters = QTerms.map(t => s"coalesce(sum(contrib) FILTER (term = '$t'), 0.0)")
    val fold = filters.reduceLeft((a, b) => s"($a + $b)")
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM $docsRel),
       |stats AS (SELECT count(*) AS n, sum(len(w)) AS sdl FROM ws),
       |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM ws),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |       WHERE term IN ($terms) GROUP BY doc_id, dl, term),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, tf.term,
       |         ln(1.0 + ((s.n - df.df) + 0.5) / (df.df + 0.5))
       |           * ((tf.tf * ${K1 + 1.0})
       |              / (tf.tf + $K1 * (${1.0 - B} + ($B * tf.dl)
       |                   / (CAST(s.sdl AS DOUBLE) / s.n))))
       |           AS contrib
       |       FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats s),
       |per AS (SELECT doc_id, $fold AS score FROM sc GROUP BY doc_id)""".stripMargin
  }

  val bm25TopKOracle: String =
    s"""WITH $bm25Cte,
       |top AS (SELECT doc_id, score,
       |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
       |            AS rnk
       |        FROM per)
       |SELECT doc_id, round(score, 4) AS bm25, rnk
       |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  // ---- Hybrid lexical+vector retrieval via RRF (p46) ----

  /** Reciprocal-rank-fusion constant (the standard 60 from the original
    * RRF paper) and the truncation depth of each input list.
    */
  private val RrfK = 60
  private val RrfDepth = 100

  /** p46: hybrid retrieval — fuse the BM25 top-100 with the top-100 by
    * cosine to a query vector (vec_id 0's embedding) using reciprocal
    * rank fusion: rrf(d) = Σ_lists 1/(60 + rank_list(d)), summed over
    * the lists the document appears in (standard truncated-list RRF —
    * the full-outer join keeps single-list documents, `coalesce` scores
    * their missing rank as 0).
    *
    * RRF is intentionally rank-only: fusing heterogeneous SCORES (BM25
    * sums vs cosine) would need calibration, while ranks are unitless —
    * which is also why the fused score is pure rational arithmetic over
    * integers, exact in any engine.
    *
    * Scale shape: each arm ends in a bounded top-n
    * (TakeOrderedAndProject), so the fusion join sees two ≤100-row
    * frames — model-sized regardless of corpus size; rank windows run
    * on those frames, never on the corpus.
    */
  /** RRF-fuse two ranked lists — (id, lex_rnk) and (id, vec_rnk), both
    * already truncated/model-sized — into the top-k by
    * Σ 1/(60 + rank), keeping single-list documents via the full-outer
    * join. Shared by the scan-time p46 and the stored-index facade
    * path, so the fusion arithmetic is defined once.
    */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    val fused = lex.join(vec, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rnk"), col("vec_rnk"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lex_rnk")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("vec_rnk")), lit(0.0))).as("rrf"))
    topNRanked(fused, Seq(col("rrf").desc, col("id")), k, "rnk")
      .select(col("id"), col("lex_rnk"), col("vec_rnk"),
        round(col("rrf"), 6).as("rrf"), col("rnk"))
      .orderBy(col("rnk"))
  }

  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val lex = topNRanked(bm25Scores(documents(s, d)),
        Seq(col("score").desc, col("doc_id")), RrfDepth, "lex_rnk")
      .select(col("doc_id").as("id"), col("lex_rnk"))
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val scoredVec = Parallelism.ensureParallel(emb)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"),
        graft.functions.VectorOps.cosine(col("embedding"), col("qe")).as("cos"))
    val vec = topNRanked(scoredVec, Seq(col("cos").desc, col("id")), RrfDepth, "vec_rnk")
      .select(col("id"), col("vec_rnk"))
    rrfFuse(lex, vec, 20)
  }

  /** DuckDB mirror of VectorOps.dot (same device as PipelineQueries). */
  private def duckDot(a: String, b: String) =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private def duckCos(a: String, b: String) =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  val hybridRrfOracle: String = {
    val cos = duckCos("c.embedding", "q.embedding")
    s"""WITH $bm25Cte,
       |lex AS (SELECT doc_id AS id,
       |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
       |            AS lex_rnk
       |        FROM per QUALIFY lex_rnk <= $RrfDepth),
       |vcos AS (SELECT c.vec_id AS id, $cos AS cos
       |         FROM embeddings c
       |         CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |         WHERE c.vec_id <> 0),
       |vec AS (SELECT id,
       |          CAST(row_number() OVER (ORDER BY cos DESC, id) AS INTEGER)
       |            AS vec_rnk
       |        FROM vcos QUALIFY vec_rnk <= $RrfDepth),
       |fused AS (SELECT coalesce(lex.id, vec.id) AS id, lex_rnk, vec_rnk,
       |            (coalesce(1.0 / ($RrfK + lex_rnk), 0.0)
       |              + coalesce(1.0 / ($RrfK + vec_rnk), 0.0)) AS rrf
       |          FROM lex FULL OUTER JOIN vec ON lex.id = vec.id),
       |top AS (SELECT id, lex_rnk, vec_rnk, rrf,
       |          CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INTEGER) AS rnk
       |        FROM fused)
       |SELECT id, lex_rnk, vec_rnk, round(rrf, 6) AS rrf, rnk
       |FROM top WHERE rnk <= 20 ORDER BY rnk""".stripMargin
  }

  // ---- Product quantization (p47 codes, p48 ADC search) ----

  /** PQ geometry: 64-dim embeddings split into [[PqM]] contiguous
    * subspaces of [[PqSub]] dims; each subspace quantized against
    * [[PqNCodes]] codes. 64 floats (256 B) compress to 4 code bytes —
    * the order-of-magnitude at-rest/in-cache shrink that makes billion-vector search
    * fit in memory; [[pqAdcTopK]] searches WITHOUT decompressing.
    */
  private val PqM = 4
  private val PqSub = 16
  private val PqNCodes = 8
  private val PqNQueries = 3

  /** Deterministic per-subspace codebooks: the first [[PqNCodes]]
    * vectors by id, sliced into subvectors — the same coreset-seed
    * stand-in for a trained codebook as [[Similarity.seedCentroids]]
    * (swapping in per-subspace k-means changes only this collect).
    * Model-sized (nCodes × dim floats), collected once.
    */
  def pqCodebook(emb: DataFrame, nCodes: Int = PqNCodes,
                 m: Int = PqM): Array[(Int, Seq[Seq[Float]])] = {
    val cb = emb.filter(col("vec_id") < nCodes)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect()
      .map { case Row(id: Int, e: scala.collection.Seq[_]) =>
        val v = e.asInstanceOf[scala.collection.Seq[Float]].toSeq
        require(v.length % m == 0,
          s"pqCodebook: dim ${v.length} not divisible into $m subspaces")
        (id, v.grouped(v.length / m).toSeq)
      }
      .sortBy(_._1)
    // code ids double as ARRAY INDICES in the ADC lookup tables, so
    // they must be exactly 0..nCodes-1 — a corpus missing one of the
    // first nCodes vec_ids would otherwise build a LUT with silently
    // unfilled slots (or an out-of-bounds write). Fail loudly instead.
    require(cb.map(_._1).toSeq == (0 until nCodes),
      s"pqCodebook: need dense vec_ids 0..${nCodes - 1} as code seeds, " +
        s"got ${cb.map(_._1).mkString(",")}")
    cb
  }

  /** PQ geometry is carried BY the codebook (subspace count and width
    * read off its shape), so every consumer below works for any
    * (nCodes, m) a caller trains — the registered queries pin the
    * (8, 4) instance the oracles replay.
    */
  private def pqM(cb: Array[(Int, Seq[Seq[Float]])]): Int = cb.head._2.length
  private def pqSub(cb: Array[(Int, Seq[Seq[Float]])]): Int = cb.head._2.head.length

  /** Per-subspace k-means training of the PQ codebook — the quality
    * upgrade over [[pqCodebook]]'s coreset seed, run the IVF-build way
    * ([[Similarity.trainIvfCentroids]]): the model lives on the driver
    * and broadcasts into a MAP-ONLY assignment pass (the same
    * [[withCodes]] argmin the encoder uses, so training and encoding
    * can never disagree on assignment), and the per-(subspace, code)
    * element-wise means come back through ONE distributed aggregate
    * per round — shuffle volume m × nCodes × subDim rows after partial
    * aggregation, independent of corpus size. All m subspaces train in
    * the same corpus pass (the explode fans each row to its m
    * subvectors), so a round costs one scan regardless of m.
    *
    * `iters` is a BUDGET: training stops once no code vector moved
    * more than `eps` (L2) in a round — each skipped round saves a full
    * corpus pass. Codes that lose all members keep their previous
    * vector. Like the IVF twin, trained codebooks are NOT in the
    * oracle query set (float mean aggregation order is partition-
    * dependent); Pipeline6Spec pins the Lloyd guarantee instead —
    * total reconstruction error is non-increasing from the seed — and
    * tools.RecallAudit measures the recall delta. Measured at sf0.01:
    * 35% lower total reconstruction error after 5 rounds (622.7 →
    * 404.9); recall@10 on these UNSTRUCTURED random test embeddings is
    * unchanged (quantization error is what training provably moves —
    * the recall gain appears on clustered real-world embeddings, where
    * codes align with the actual density).
    */
  def trainPqCodebook(corpus: DataFrame, nCodes: Int = PqNCodes,
                      m: Int = PqM, iters: Int = 2,
                      eps: Double = 1e-4): Array[(Int, Seq[Seq[Float]])] =
    trainPqCodebookWithRounds(corpus, nCodes, m, iters, eps)._1

  /** [[trainPqCodebook]] plus the number of Lloyd rounds actually run
    * (the budget-vs-convergence observability of the IVF twin).
    */
  def trainPqCodebookWithRounds(corpus: DataFrame, nCodes: Int = PqNCodes,
                                m: Int = PqM, iters: Int = 2,
                                eps: Double = 1e-4): (Array[(Int, Seq[Seq[Float]])], Int) = {
    val par = Parallelism.ensureParallel(corpus)
    var cb = pqCodebook(corpus, nCodes, m)
    var rounds = 0
    var moved = Double.MaxValue
    while (cb.nonEmpty && rounds < iters && moved >= eps) {
      val sub = pqSub(cb)
      val means = withCodes(cb, par)
        .select(explode(array((0 until m).map { s =>
          struct(lit(s).as("s"), (-col(s"__b$s.nc")).cast("int").as("code"),
                 slice(col("embedding"), s * sub + 1, sub).as("v"))
        }: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.code").as("code"),
                posexplode(col("x.v")).as(Seq("pos", "pv")))
        .groupBy(col("s"), col("code"), col("pos")).agg(avg(col("pv")).as("mn"))
        .groupBy(col("s"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"))
        .select(col("s").cast("int"), col("code").cast("int"),
                expr("transform(pm, x -> cast(x.mn as float))").as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toSeq)
        .toMap
      val next: Array[(Int, Seq[Seq[Float]])] = cb.map { case (cid, subs) =>
        (cid, subs.indices.map(s => means.getOrElse((s, cid), subs(s))).toSeq)
      }
      moved = cb.zip(next).flatMap { case ((_, a), (_, b)) =>
        a.zip(b).map { case (x, y) =>
          math.sqrt(x.zip(y).map { case (p, q) =>
            val d = p.toDouble - q.toDouble; d * d }.sum)
        }
      }.maxOption.getOrElse(0.0)
      cb = next
      rounds += 1
    }
    (cb, rounds)
  }

  /** FROZEN per-subspace Lloyd training — [[trainPqCodebook]] with the
    * p124 device ([[Similarity.trainIvfCentroidsFrozen]]) applied to
    * the PQ codebook, which is what graduates p56 from rows-only to a
    * full differential: each round's per-(subspace, code, position)
    * member means are computed in EXACT INTEGER MICRO-UNITS
    * (`sum(round(pv·10⁶) as long)` — order-free under any partitioning
    * — divided once, truncating toward zero like DuckDB's BIGINT `//`)
    * and read back as floats, so the trained codebook is a
    * deterministic function of the corpus CONTENT alone and a DuckDB
    * oracle can re-derive the whole training loop. Always runs exactly
    * `rounds` rounds (the round count is part of the registered
    * semantics — no eps early-exit); codes that lose all members keep
    * their previous vectors; assignment reuses [[withCodes]]' argmin,
    * so training and encoding can never disagree. Same scale shape as
    * the float form: one corpus pass per round, a model-sized
    * (m × nCodes × subDim) aggregate.
    */
  def trainPqCodebookFrozen(corpus: DataFrame, nCodes: Int = PqNCodes,
                            m: Int = PqM,
                            rounds: Int = PqTrainedRounds): Array[(Int, Seq[Seq[Float]])] = {
    val par = Parallelism.ensureParallel(corpus)
    var cb = pqCodebook(corpus, nCodes, m)
    for (_ <- 1 to rounds if cb.nonEmpty) {
      val sub = pqSub(cb)
      val micro = withCodes(cb, par)
        .select(explode(array((0 until m).map { s =>
          struct(lit(s).as("s"), (-col(s"__b$s.nc")).cast("int").as("code"),
                 slice(col("embedding"), s * sub + 1, sub).as("v"))
        }: _*)).as("x"))
        .select(col("x.s").as("s"), col("x.code").as("code"),
                posexplode(col("x.v")).as(Seq("pos", "pv")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(round(col("pv") * lit(1000000.0)).cast("long")).as("ms"),
             count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getLong(3), r.getLong(4)))
      val byKey: Map[(Int, Int), Seq[Float]] =
        micro.groupBy(x => (x._1, x._2)).map { case (k, xs) =>
          k -> xs.sortBy(_._3)
            .map(x => ((x._4 / x._5).toDouble / 1e6).toFloat).toSeq
        }
      cb = cb.map { case (cid, subs) =>
        (cid, subs.indices.map(s => byKey.getOrElse((s, cid), subs(s))).toSeq)
      }
    }
    cb
  }

  /** Round count of the REGISTERED frozen PQ training (p56) — part of
    * the semantics, mirrored by the oracle's unrolled CTE rounds.
    */
  private[operators] val PqTrainedRounds = 2

  /** Squared L2 distance via the dot identity ‖a−b‖² =
    * ((a·a − 2(a·b)) + b·b), in exactly that association order — three
    * [[dot]] calls (the established bit-exact cross-engine primitive)
    * plus correctly-rounded −/×/+, so the value is reproducible in any
    * engine with no bespoke float fold. When a IS b bitwise the
    * cancellation is exact: (d − 2d) + d = 0.0.
    */
  private def sqDist(a: Column, b: Column): Column =
    (dot(a, a) - lit(2.0) * dot(a, b)) + dot(b, b)

  /** Argmin cell of subspace `s` as a struct-max (the
    * [[Similarity]] cellScores device): max over codes of
    * (−dist, −code) picks the minimum distance, ties to the LOWER code
    * id — `nd` = −dist, `nc` = −code.
    */
  private def subspaceBest(cb: Array[(Int, Seq[Seq[Float]])], s: Int): Column = {
    val sub = pqSub(cb)
    val vs = slice(col("embedding"), s * sub + 1, sub)
    array_max(array(cb.toIndexedSeq.map { case (cid, subs) =>
      struct((-sqDist(vs, typedLit(subs(s)))).as("nd"), lit(-cid).as("nc"))
    }: _*))
  }

  /** Attach the per-subspace argmin structs (internal scratch columns
    * `__b0…`) — the shared encoding pass behind [[pqEncode]] and the
    * IVF-PQ store write.
    */
  private def withCodes(cb: Array[(Int, Seq[Seq[Float]])], df: DataFrame): DataFrame =
    (0 until pqM(cb)).foldLeft(df) { (d, s) => d.withColumn(s"__b$s", subspaceBest(cb, s)) }

  private def codeCols(m: Int): Seq[Column] =
    (0 until m).map(s => (-col(s"__b$s.nc")).cast("int").as(s"c$s"))

  /** PQ-encode a corpus against the broadcast codebook — MAP-ONLY, like
    * IVF assignment: (vec_id, c0…c3, err) where err is the total
    * squared reconstruction error, folded over subspaces in fixed
    * (s=0,1,2,3) order. One pass, zero shuffle: at 100 TB this is the
    * scan that writes the compressed index.
    */
  def pqEncode(cb: Array[(Int, Seq[Seq[Float]])], corpus: DataFrame): DataFrame = {
    val withBest = withCodes(cb, Parallelism.ensureParallel(corpus))
    val err = (0 until pqM(cb)).map(s => -col(s"__b$s.nd")).reduceLeft(_ + _)
    withBest.select(col("vec_id") +: codeCols(pqM(cb)) :+ round(err, 6).as("err"): _*)
  }

  /** p47: PQ codes + reconstruction error for the whole corpus. */
  def pqCodesQuery(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    pqEncode(pqCodebook(emb), emb).orderBy(col("vec_id"))
  }

  /** Shared oracle CTEs: codebook, per-(vector, subspace, code)
    * distances, and the argmin code table pivoted to c0…c3.
    */
  private def pqCte: String = {
    val vs = "e.embedding[sp.s*16+1 : sp.s*16+16]"
    val cs = "c.embedding[sp.s*16+1 : sp.s*16+16]"
    val codePivot = (0 until PqM)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(",\n       |         ")
    s"""cb AS (SELECT CAST(vec_id AS INTEGER) AS code, embedding
       |       FROM embeddings WHERE vec_id < $PqNCodes),
       |sp AS (SELECT CAST(s AS INTEGER) AS s FROM range(0, $PqM) t(s)),
       |pd AS (SELECT e.vec_id, sp.s, c.code,
       |         ((${duckDot(vs, vs)} - 2.0 * ${duckDot(vs, cs)})
       |           + ${duckDot(cs, cs)}) AS dist
       |       FROM embeddings e CROSS JOIN sp CROSS JOIN cb c),
       |amin AS (SELECT vec_id, s, code, dist,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, code) AS rn
       |         FROM pd),
       |cd AS (SELECT vec_id,
       |         $codePivot
       |       FROM amin WHERE rn = 1 GROUP BY vec_id)""".stripMargin
  }

  val pqCodesOracle: String = {
    val errFold = (0 until PqM).map(s => s"max(CASE WHEN s = $s THEN dist END)")
      .reduceLeft((a, b) => s"($a + $b)")
    val codePivot = (0 until PqM)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(", ")
    s"""WITH $pqCte
       |SELECT vec_id, $codePivot, round($errFold, 6) AS err
       |FROM amin WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** p48: ADC (asymmetric distance computation) top-10 — search the
    * COMPRESSED corpus: each query (first [[PqNQueries]] vectors)
    * precomputes its 4×8 partial-distance lookup table once; a corpus
    * vector's approximate distance is then four table lookups summed in
    * subspace order, never touching the original floats. This is the
    * standard PQ search kernel (IVFADC without the IVF gate — compose
    * with p41's cell-partitioned store for the full IVF-PQ layout).
    *
    * The LUT is a MODEL-SIZED FRAME — queries × M × nCodes rows of
    * (qid, s, code, pd), each pd produced by the exact [[sqDist]]
    * arithmetic the oracle mirrors — broadcast into one map-side hash
    * join per subspace keyed on (qid, code). No collect, no literal
    * embedding, no shuffle: at production scale (nCodes=256, thousands
    * of queries) the LUT is a few MB of broadcast rows where a
    * when-chain of literals would be a plan-sized expression, and the
    * plan shape (broadcast model, map-side lookup, per-key top-k) is
    * the same one this pinned (8-code, 3-query) instance exercises.
    */
  /** The per-query lookup table as a frame: for each query, the partial
    * squared distance of its subvector to every (subspace, code)
    * codebook entry — (qid int, s int, code int, pd double). Lazy: no
    * job runs at construction.
    */
  private[graft] def pqLutFrame(cb: Array[(Int, Seq[Seq[Float]])],
                                queries: DataFrame): DataFrame = {
    val sub = pqSub(cb)
    queries
      .select(col("vec_id").cast("int").as("qid"),
        explode(array((for {
          sp <- 0 until pqM(cb)
          (cid, subs) <- cb
        } yield {
          val qs = slice(col("embedding"), sp * sub + 1, sub)
          struct(lit(sp).as("s"), lit(cid).as("code"),
            sqDist(qs, typedLit(subs(sp))).as("pd"))
        }).toIndexedSeq: _*)).as("x"))
      .select(col("qid"), col("x.s").as("s"), col("x.code").as("code"),
              col("x.pd").as("pd"))
  }

  /** Attach the ADC distance to candidate rows carrying code columns
    * c0…c(m−1): one BROADCAST hash join per subspace against the LUT
    * frame — map-side, no shuffle, no aggregate — then a literal
    * left-assoc fold of the m partial distances in subspace order
    * (bit-identical to the oracle's ((l0+l1)+l2)+l3 chain; a `sum`
    * over join rows would be order-nondeterministic).
    *
    * When `cands` has no qid column yet (the no-IVF p48 shape), the
    * first join fans each candidate out to every query — the join IS
    * the query expansion. LUTs are complete over codes 0…nCodes−1 by
    * [[pqCodebook]]'s density guard, so the inner joins drop nothing.
    */
  private def adcJoinLut(lut: DataFrame, cands: DataFrame, m: Int): DataFrame = {
    // ONE broadcast, m probes: every join broadcasts the SAME unfiltered
    // LUT frame keyed on (s, code[, qid]), with the subspace selected by
    // an equi-key against a literal column on the probe side — NOT by a
    // filter on the build side, which Catalyst would push below the
    // exchange and thereby split it into m distinct broadcasts (the
    // first cut of this path did exactly that, and each broadcast build
    // re-ran the LUT subtree including its parquet scan of the query
    // vectors: BenchOne measured 3× the warm latency of the fused form).
    // Identical build subtrees canonicalize equal, so ReuseExchange
    // collapses the m builds into one — pinned in PlanSpec.
    // the (s, code) pair joins as ONE fused integer key, s·2²⁰ + code:
    // the probe side's s is a literal FUSED INTO an expression over its
    // code attribute, so constant folding cannot strip it into a
    // build-side-only filter (a bare literal equi-key folds and gets
    // pushed below the exchange, splitting it back into m distinct
    // broadcasts whose builds each re-run the LUT subtree INCLUDING its
    // scan of the query vectors — the first cut of this path planned 10
    // file scans where the fused form plans 3, measured via the
    // executed plan's final section; ReusedExchange pinned in PlanSpec).
    // qid stays in the join KEYS (not a post-join filter) wherever the
    // probe carries it: with thousands of queries a code-only key would
    // match every query's LUT row per candidate before filtering.
    val joined = (0 until m).foldLeft(cands) { (df, s) =>
      // toDF mints fresh attribute ids per iteration (a plain reuse of
      // `lut` would self-join-conflict after the first round)
      val l = lut.toDF("qid", "s", "code", "pd")
      val buildKey = l("s") * lit(1 << 20) + l("code")
      val probeKey = lit(s.toLong * (1 << 20)) + df(s"c$s")
      val cond0 = buildKey === probeKey
      val cond = if (df.columns.contains("qid")) cond0 && l("qid") === df("qid")
                 else cond0
      val j = df.join(broadcast(l), cond).drop(l("s")).drop(l("code"))
      val keepQid = if (df.columns.contains("qid")) j.drop(l("qid"))
                    else j // first p48 join: the LUT's qid IS the fan-out
      keepQid.withColumn(s"__pd$s", l("pd")).drop(l("pd"))
    }
    val adc = (0 until m).map(s => col(s"__pd$s")).reduceLeft(_ + _)
    joined.select(col("qid"), col("cid"), adc.as("adc"))
  }

  def pqAdcTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cb = pqCodebook(emb)
    val lut = pqLutFrame(cb, emb.filter(col("vec_id") < PqNQueries))
    val cands = pqEncode(cb, emb)
      .select(col("vec_id").as("cid") +: (0 until pqM(cb)).map(i => col(s"c$i")): _*)
    adcJoinLut(lut, cands, pqM(cb))
      .filter(col("qid") =!= col("cid"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("adc"), col("cid"))))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("cid"), round(col("adc"), 6).as("adc"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  val pqAdcTopKOracle: String = {
    val qs = "q.embedding[sp.s*16+1 : sp.s*16+16]"
    val cs = "c.embedding[sp.s*16+1 : sp.s*16+16]"
    val joins = (1 until PqM).map(sp =>
      s"JOIN lut l$sp ON l$sp.s = $sp AND l$sp.code = cd.c$sp AND l$sp.qid = l0.qid")
      .mkString("\n       |        ")
    val adcFold = (0 until PqM).map(sp => s"l$sp.pd").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH $pqCte,
       |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, embedding
       |      FROM embeddings WHERE vec_id < $PqNQueries),
       |lut AS (SELECT q.qid, sp.s, c.code,
       |          ((${duckDot(qs, qs)} - 2.0 * ${duckDot(qs, cs)})
       |            + ${duckDot(cs, cs)}) AS pd
       |        FROM q CROSS JOIN sp CROSS JOIN cb c),
       |adc AS (SELECT l0.qid, cd.vec_id AS cid, $adcFold AS adc
       |        FROM cd
       |        JOIN lut l0 ON l0.s = 0 AND l0.code = cd.c0
       |        $joins),
       |r AS (SELECT qid, cid, adc,
       |        CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY adc, cid) AS INTEGER) AS rnk
       |      FROM adc WHERE qid <> cid)
       |SELECT qid, cid, round(adc, 6) AS adc, rnk
       |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  // ---- IVF-PQ: the composed at-rest index (p49) ----

  /** Build the IVF-PQ store — the production vector-index layout
    * (IVFADC): every vector is assigned to its IVF cell (the ONE
    * assignment definition, [[Similarity.assignCells]]) and stored as
    * its 4 PQ code bytes, hive-partitioned by cell. The store holds
    * CODES ONLY — no embeddings — so it is both directory-pruned like
    * p41 (read nProbe/nCells of the files) AND a fraction of the bytes
    * per row read (256 B embedding → 8 B smallint codes logical; the
    * measured on-disk ratio at sf0.1 is 5× — parquet per-file overhead
    * dominates 250-row cell files, and the logical ratio is what
    * row-group-sized production files realize); at 100 TB of raw
    * vectors the probe's byte footprint drops by both factors
    * multiplied. One map-only pass, no shuffle: cell and
    * codes are each computed against broadcast models.
    */
  /** The IVF-PQ row form — (vec_id, cell, c0…c3), both models applied
    * map-side — shared by the store build, the incremental append, and
    * the streaming ingest so the three paths cannot diverge.
    */
  private[graft] def pqCellCodes(cents: Array[(Int, Seq[Float])],
                                 cb: Array[(Int, Seq[Seq[Float]])],
                                 vectors: DataFrame): DataFrame = {
    // codes persist as smallint: 2 bytes covers any practical codebook
    // (production PQ uses 256 codes) and halves the at-rest code
    // payload vs int32; the probe's code+1 lookup arithmetic widens
    // back for free
    val storeCodes = (0 until pqM(cb))
      .map(s => (-col(s"__b$s.nc")).cast("smallint").as(s"c$s"))
    withCodes(cb, Similarity.assignCells(cents, vectors))
      .select(col("vec_id") +: col("cell") +: storeCodes: _*)
  }

  /** Stored rows carry an `ingest_batch` provenance column (-1 for
    * build/manual appends, the staged batch id for streamed merges):
    * each parquet file holds ONE value, so its footer min==max stats
    * make "was batch b already folded?" a row-group-pruned metadata
    * probe — the idempotency check of
    * [[graft.streaming.StreamingOps.ivfPqMergeStaged]] — never a data
    * scan.
    */
  def ivfPqWrite(cents: Array[(Int, Seq[Float])],
                 cb: Array[(Int, Seq[Seq[Float]])],
                 corpus: DataFrame, path: String): Unit =
    graft.sources.Partitioned.writeBy(
      pqCellCodes(cents, cb, corpus).withColumn("ingest_batch", lit(-1L)),
      path, "cell")

  /** Incrementally extend a stored [[ivfPqWrite]] layout: assign and
    * encode ONLY the new vectors (both against the broadcast models —
    * map-only) and append their code files into the existing cell
    * directories — the [[Similarity.ivfAppend]] contract for the
    * compressed layout. Both models MUST be the ones the store was
    * built with (cells and codes are defined by them); retraining
    * either means a full [[ivfPqWrite]]. Small appended files
    * accumulate per cell — compact with `sources.Maintenance`.
    */
  def ivfPqAppend(cents: Array[(Int, Seq[Float])],
                  cb: Array[(Int, Seq[Seq[Float]])],
                  newVectors: DataFrame, path: String,
                  ingestBatch: Long = -1L): Unit =
    graft.sources.Partitioned.appendBy(
      pqCellCodes(cents, cb, newVectors)
        .withColumn("ingest_batch", lit(ingestBatch)),
      path, "cell")

  /** ADC top-k over a stored [[ivfPqWrite]] layout: probe the `nProbe`
    * max-cosine cells per query (same probe fan-out as p41, so the
    * broadcast probe join dynamically prunes the file listing to the
    * probed cell directories), then score ONLY the surviving code rows
    * against the broadcast LUT frame ([[adcJoinLut]] — map-side joins,
    * no when-chain, scales past the pinned query count) — the original
    * floats are never read because they are not even in the store.
    * Candidate cells are chosen by the IVF model and distances by the
    * PQ model — the textbook accuracy/IO trade composed from p41 + p48.
    *
    * @param excludeSelf drop candidates whose vec_id equals the query's
    *   qid — correct when queries are drawn FROM the corpus (the
    *   p48/p49 contract: a vector's nearest neighbor is trivially
    *   itself). For EXTERNAL queries sharing no id space with the
    *   corpus, pass false: an accidental qid/vec_id collision would
    *   otherwise silently drop a legitimate corpus candidate.
    */
  def ivfPqTopKStored(spark: SparkSession, path: String, queries: DataFrame,
                      cents: Array[(Int, Seq[Float])],
                      cb: Array[(Int, Seq[Seq[Float]])],
                      k: Int, nProbe: Int = 2,
                      excludeSelf: Boolean = true): DataFrame = {
    val m = pqM(cb)
    val probes = Similarity.probeCells(cents, queries, nProbe)
      .select(col("qid"), col("cell"))
    val joined = spark.read.parquet(path)
      .join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
    // tombstone-aware like every stored probe: a deferred takedown's
    // queued vec_ids must stop ranking through the COMPRESSED index
    // too, or a withdrawn vector's 8-byte code row keeps surfacing in
    // shortlists until the compaction (no zone → passthrough). The
    // anti-join is declared above the probe join and left to the
    // optimizer; PlanSpec pins that the scan keeps its dynamic cell
    // pruning under a pending zone.
    val alive = graft.sources.Maintenance.tombstones(spark, path)
      .fold(joined)(ts =>
        joined.join(broadcast(ts), Seq("vec_id"), "left_anti"))
    val cands = alive
      .select(col("qid") +: col("vec_id").as("cid") +:
        // stored codes are smallint; widen to the LUT frame's int key
        (0 until m).map(s => col(s"c$s").cast("int").as(s"c$s")): _*)
    adcJoinLut(pqLutFrame(cb, queries), cands, m)
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("adc"), col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), round(col("adc"), 6).as("adc"), col("rnk"))
  }

  /** p49: the stored IVF-PQ path with p13/p41's cell model (8 cells,
    * 2 probes, 5 queries). Store built once per JVM per dataset — the
    * shared [[IndexStores]] contract, as p41: warm reps measure the
    * steady-state pruned probe, not the build.
    */
  def ivfPqStored(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = pqCodebook(emb)
    val store = codesStoreFor(s, d, cents, cb)
    ivfPqTopKStored(s, store, emb.filter(col("vec_id") < 5), cents, cb,
        k = 10, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  val ivfPqStoredOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid_, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 2),
       |$pqCte,
       |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, embedding
       |      FROM embeddings WHERE vec_id < 5),
       |lut AS (SELECT q.qid, sp.s, c.code,
       |          ((${duckDot("q.embedding[sp.s*16+1 : sp.s*16+16]", "q.embedding[sp.s*16+1 : sp.s*16+16]")}
       |            - 2.0 * ${duckDot("q.embedding[sp.s*16+1 : sp.s*16+16]", "c.embedding[sp.s*16+1 : sp.s*16+16]")})
       |            + ${duckDot("c.embedding[sp.s*16+1 : sp.s*16+16]", "c.embedding[sp.s*16+1 : sp.s*16+16]")}) AS pd
       |        FROM q CROSS JOIN sp CROSS JOIN cb c),
       |cand AS (SELECT p.qid, a.cid_ AS cid, cd.c0, cd.c1, cd.c2, cd.c3
       |         FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid_
       |         JOIN cd ON cd.vec_id = a.cid_),
       |adc AS (SELECT cand.qid, cand.cid,
       |          (((l0.pd + l1.pd) + l2.pd) + l3.pd) AS adc
       |        FROM cand
       |        JOIN lut l0 ON l0.qid = cand.qid AND l0.s = 0 AND l0.code = cand.c0
       |        JOIN lut l1 ON l1.qid = cand.qid AND l1.s = 1 AND l1.code = cand.c1
       |        JOIN lut l2 ON l2.qid = cand.qid AND l2.s = 2 AND l2.code = cand.c2
       |        JOIN lut l3 ON l3.qid = cand.qid AND l3.s = 3 AND l3.code = cand.c3),
       |r AS (SELECT qid, cid, adc,
       |        CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY adc, cid) AS INTEGER) AS rnk
       |      FROM adc)
       |SELECT qid, cid, round(adc, 6) AS adc, rnk
       |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  // ---- IVFADC refine: ADC shortlist → exact re-rank (p55) ----

  /** The production IVFADC pipeline completed with its refine stage:
    * probe the codes store for an ADC top-`r` shortlist (cheap,
    * compressed, approximate), then re-rank ONLY those `r` candidates
    * per query with exact distances read from the embedding store
    * ([[Similarity.ivfWrite]]'s cell-partitioned layout) and keep the
    * top-`k`. This closes most of the PQ quantization gap while
    * touching `queries × r` embedding rows instead of the corpus.
    *
    * Scale shape: the shortlist is model-sized (queries × r) and
    * broadcasts into the embedding-store read, which is FIRST pruned
    * to the probed cells by the same broadcast-probe join as p41 — the
    * refine read therefore pays (nProbe/nCells directories, then only
    * shortlisted rows survive the joins), never a corpus scan. Exact
    * distances use the same dot-identity [[sqDist]] as the encode
    * path, so the composition carries a full differential oracle.
    * Both stores MUST share `cents` (cells are defined by the model).
    *
    * @param excludeSelf see [[ivfPqTopKStored]].
    */
  def ivfPqRefineTopK(spark: SparkSession, codesPath: String, embPath: String,
                      queries: DataFrame,
                      cents: Array[(Int, Seq[Float])],
                      cb: Array[(Int, Seq[Seq[Float]])],
                      k: Int, r: Int, nProbe: Int = 2,
                      excludeSelf: Boolean = true): DataFrame = {
    val shortlist = ivfPqTopKStored(spark, codesPath, queries, cents, cb,
        r, nProbe, excludeSelf)
      .select(col("qid"), col("cid"))
    val probes = Similarity.probeCells(cents, queries, nProbe)
    val exact = spark.read.parquet(embPath)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(shortlist), Seq("qid", "cid"))
      .select(col("qid"), col("cid"), sqDist(col("qe"), col("ce")).as("dist"))
    exact
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("dist"), col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), round(col("dist"), 6).as("dist"), col("rnk"))
  }

  /** Diversity-aware serving path: the [[ivfPqRefineTopK]] read
    * pattern (ADC shortlist → exact rows from the embedding store,
    * only the probed cells and only the shortlisted ids) feeding
    * [[mmrRerank]] instead of a plain distance sort. IO is identical
    * to refine — the MMR stage is corpus-independent (bounded by
    * queries × r rows) — so diversity costs nothing extra at the
    * storage layer.
    */
  def ivfPqDiverseTopK(spark: SparkSession, codesPath: String, embPath: String,
                       queries: DataFrame,
                       cents: Array[(Int, Seq[Float])],
                       cb: Array[(Int, Seq[Seq[Float]])],
                       k: Int, r: Int, nProbe: Int = 2, lam: Double = 0.7,
                       excludeSelf: Boolean = true): DataFrame = {
    val shortlist = ivfPqTopKStored(spark, codesPath, queries, cents, cb,
        r, nProbe, excludeSelf)
      .select(col("qid"), col("cid"))
    val probes = Similarity.probeCells(cents, queries, nProbe)
    val cands = spark.read.parquet(embPath)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(shortlist), Seq("qid", "cid"))
      .select(col("qid"), col("cid"), cosine(col("qe"), col("ce")).as("rel"),
        col("ce"))
    mmrRerank(cands, k, lam)
  }

  // ---- Residual IVF-PQ (p64): the true-IVFADC encoding ----

  /** The centroid model as a broadcastable frame — (cell, cvec). */
  private def centFrame(spark: SparkSession,
                        cents: Array[(Int, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "cvec")
  }

  /** Residual form of a corpus: (vec_id, cell, embedding := v −
    * centroid(cell)) — each element one float subtraction, exact-
    * rounded and bit-identical in any IEEE engine (DuckDB keeps
    * FLOAT−FLOAT in float, verified), so the residual pipeline carries
    * the same full differential oracle as the raw-vector one. Cell
    * assignment is THE shared definition ([[Similarity.assignCells]]);
    * the centroid attaches by broadcast join (model-sized, the LUT-
    * frame philosophy — no literal embedding in the plan).
    */
  private[graft] def residualsOf(cents: Array[(Int, Seq[Float])],
                                 vectors: DataFrame): DataFrame =
    Similarity.assignCells(cents, vectors)
      .join(broadcast(centFrame(vectors.sparkSession, cents)), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("embedding"))

  /** Residual codebook: a coreset seed over RESIDUAL vectors — what PQ
    * actually quantizes in this layout. The coreset window starts at
    * vec_id = nCodes, NOT 0: the first nCodes vectors are the seed
    * CENTROIDS themselves, whose residuals are zero vectors — a
    * codebook of nCodes zero copies encodes every vector identically
    * and collapses ADC ranking to ties (measured: recall@10 0.02
    * before this shift). Code ids renumber to the dense 0..nCodes−1
    * the LUT contract requires. Training via [[trainPqCodebook]]
    * composes unchanged (feed it the residual frame).
    */
  def pqResidualCodebook(cents: Array[(Int, Seq[Float])], emb: DataFrame,
                         nCodes: Int = PqNCodes, m: Int = PqM): Array[(Int, Seq[Seq[Float]])] =
    pqCodebook(
      residualsOf(cents, emb)
        .filter(col("vec_id") >= nCodes && col("vec_id") < 2L * nCodes)
        .select((col("vec_id") - nCodes).as("vec_id"), col("embedding")),
      nCodes, m)

  /** Build the residual IVF-PQ store: codes of `v − centroid(cell)`,
    * hive-partitioned by cell — the textbook IVFADC layout. WHEN the
    * corpus clusters around its centroids, residuals concentrate near
    * the origin and a fixed code budget spends its resolution on the
    * within-cell geometry instead of re-describing the coarse cell
    * position the IVF stage already paid for — the standard accuracy
    * upgrade over raw-vector PQ at identical store size and probe
    * cost; Pipeline6Spec measures it winning recall@10 on a clustered
    * fixture. The honest flip side, measured on this repo's NEAR-RANDOM
    * unit test embeddings (tools.RecallAudit): cos(v, centroid) ≈ 0
    * there, so residual norms are ≈ √2 — LARGER than the vectors — and
    * residual coding underperforms raw PQ; choose the encoding per the
    * p44 cell-balance report (min_cos near 0 ⇒ the corpus does not
    * cluster ⇒ stay raw). Same map-only build shape as [[ivfPqWrite]].
    */
  def ivfPqResidualWrite(cents: Array[(Int, Seq[Float])],
                         cb: Array[(Int, Seq[Seq[Float]])],
                         corpus: DataFrame, path: String): Unit = {
    val storeCodes = (0 until pqM(cb))
      .map(s => (-col(s"__b$s.nc")).cast("smallint").as(s"c$s"))
    graft.sources.Partitioned.writeBy(
      withCodes(cb, residualsOf(cents, corpus))
        .select(col("vec_id") +: col("cell") +: storeCodes: _*)
        .withColumn("ingest_batch", lit(-1L)),
      path, "cell")
  }

  /** ADC top-k over a residual store. The LUT is now per (query,
    * probed cell) — the query's residual differs per cell — so the
    * probe fan-out and the LUT share one synthetic identity
    * pid = qid·nCells + cell, and the whole [[adcJoinLut]] machinery
    * (one shared broadcast, fused-key reuse) applies verbatim with pid
    * as the query key; the real qid is recovered arithmetically before
    * the rank window. LUT size is queries × nProbe × m × nCodes — the
    * nProbe factor is the price of residual encoding, still
    * model-sized. Store reads are identical to [[ivfPqTopKStored]]:
    * DPP to the probed cells, codes only.
    */
  def ivfPqResidualTopKStored(spark: SparkSession, path: String,
                              queries: DataFrame,
                              cents: Array[(Int, Seq[Float])],
                              cb: Array[(Int, Seq[Seq[Float]])],
                              k: Int, nProbe: Int = 2,
                              excludeSelf: Boolean = true): DataFrame = {
    val m = pqM(cb)
    val nCells = cents.length
    val probes = Similarity.probeCells(cents, queries, nProbe)
      .select(col("qid"), col("cell"))
    val pid = (col("qid") * nCells + col("cell")).cast("int")
    val qres = probes
      .join(queries.select(col("vec_id").as("qid"), col("embedding")), Seq("qid"))
      .join(broadcast(centFrame(spark, cents)), Seq("cell"))
      .select(pid.as("vec_id"),
        zip_with(col("embedding"), col("cvec"), (a, b) => a - b).as("embedding"))
    val joined = spark.read.parquet(path)
      .join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
    // tombstone-aware like the plain-codes twin (the deferred-takedown
    // reader invariant: EVERY cell-layout codes reader anti-joins the
    // pending set, above the probe join so DPP survives) — without
    // this, a deferred takedown queued against a residual store would
    // keep the withdrawn vector's code rows ranking until compaction
    val alive = graft.sources.Maintenance.tombstones(spark, path)
      .fold(joined)(ts =>
        joined.join(broadcast(ts), Seq("vec_id"), "left_anti"))
    val cands = alive
      .select(pid.as("qid") +: col("vec_id").as("cid") +:
        (0 until m).map(s => col(s"c$s").cast("int").as(s"c$s")): _*)
    adcJoinLut(pqLutFrame(cb, qres), cands, m)
      .select((col("qid") / nCells).cast("int").as("qid"), col("cid"), col("adc"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("adc"), col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), round(col("adc"), 6).as("adc"), col("rnk"))
  }

  /** p64: the residual-encoded twin of p49 — same geometry (8 cells,
    * 2 probes, 5 queries, 8 codes × 4 subspaces), same probe IO, store
    * built once per JVM per dataset (the shared [[IndexStores]]
    * contract).
    */
  def ivfPqResidualStored(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = pqResidualCodebook(cents, emb)
    val store = IndexStores.of("ivfpqres", d) { p =>
      ivfPqResidualWrite(cents, cb, emb, p)
    }
    ivfPqResidualTopKStored(s, store, emb.filter(col("vec_id") < 5), cents, cb,
        k = 10, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  /** One oracle re-deriving the whole residual pipeline: assignment,
    * float-exact residuals (`list_transform` FLOAT subtraction),
    * residual coreset codebook, argmin codes, per-(query, cell)
    * residual LUTs, and the ADC fold — every stage the exact SQL twin
    * of the Scala above.
    */
  val ivfPqResidualOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    def resDot(a: String, b: String) = duckDot(a, b)
    val rs = "r.remb[sp.s*16+1 : sp.s*16+16]"
    val cs = "c.remb[sp.s*16+1 : sp.s*16+16]"
    val qs = "qr.remb[sp.s*16+1 : sp.s*16+16]"
    val codePivot = (0 until PqM)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s")
      .mkString(",\n       |         ")
    val lutJoins = (0 until PqM).map(sp =>
      s"JOIN lut l$sp ON l$sp.qid = cand.qid AND l$sp.cell = cand.cell " +
        s"AND l$sp.s = $sp AND l$sp.code = cand.c$sp")
      .mkString("\n       |        ")
    val adcFold = (0 until PqM).map(sp => s"l$sp.pd").reduceLeft((a, b) => s"($a + $b)")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid_, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 2),
       |res AS (
       |  SELECT a.cid_ AS vec_id, a.cell,
       |         list_transform(range(1, ${PqM * PqSub + 1}),
       |           i -> e.embedding[CAST(i AS INT)] - c.ce[CAST(i AS INT)]) AS remb
       |  FROM assign a
       |  JOIN embeddings e ON e.vec_id = a.cid_
       |  JOIN cents c ON c.ccid = a.cell),
       |rcb AS (SELECT CAST(vec_id - $PqNCodes AS INTEGER) AS code, remb FROM res
       |        WHERE vec_id >= $PqNCodes AND vec_id < ${2 * PqNCodes}),
       |sp AS (SELECT CAST(s AS INTEGER) AS s FROM range(0, $PqM) t(s)),
       |pd AS (SELECT r.vec_id, sp.s, c.code,
       |         ((${resDot(rs, rs)} - 2.0 * ${resDot(rs, cs)})
       |           + ${resDot(cs, cs)}) AS dist
       |       FROM res r CROSS JOIN sp CROSS JOIN rcb c),
       |amin AS (SELECT vec_id, s, code,
       |           row_number() OVER (PARTITION BY vec_id, s
       |                              ORDER BY dist, code) AS rn
       |         FROM pd),
       |cd AS (SELECT vec_id,
       |         $codePivot
       |       FROM amin WHERE rn = 1 GROUP BY vec_id),
       |qres AS (
       |  SELECT p.qid, p.cell,
       |         list_transform(range(1, ${PqM * PqSub + 1}),
       |           i -> q.embedding[CAST(i AS INT)] - c.ce[CAST(i AS INT)]) AS remb
       |  FROM probes p
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  JOIN cents c ON c.ccid = p.cell),
       |lut AS (SELECT qr.qid, qr.cell, sp.s, c.code,
       |          ((${resDot(qs, qs)} - 2.0 * ${resDot(qs, cs)})
       |            + ${resDot(cs, cs)}) AS pd
       |        FROM qres qr CROSS JOIN sp CROSS JOIN rcb c),
       |cand AS (SELECT p.qid, p.cell, a.cid_ AS cid, cd.c0, cd.c1, cd.c2, cd.c3
       |         FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid_
       |         JOIN cd ON cd.vec_id = a.cid_),
       |adc AS (SELECT cand.qid, cand.cid, $adcFold AS adc
       |        FROM cand
       |        $lutJoins),
       |r AS (SELECT qid, cid, adc,
       |        CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY adc, cid) AS INTEGER) AS rnk
       |      FROM adc)
       |SELECT CAST(qid AS INTEGER) AS qid, cid, round(adc, 6) AS adc, rnk
       |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  // ---- MMR diversified re-rank (p66) ----

  /** Maximal-marginal-relevance re-rank over per-query candidate
    * shortlists: greedily select k candidates, each round taking the
    * one maximizing `lam·rel − (1−lam)·max_cos_to_selected` (ties to
    * the lowest cid; the first pick's penalty term is 0, so it is the
    * plain relevance argmax). This is the diversity stage of a
    * retrieval/curation pipeline — a near-duplicate of an already-
    * selected result must beat it on relevance by the λ-scaled margin
    * to also be selected.
    *
    * Cost is corpus-INDEPENDENT: every frame in the loop is bounded by
    * queries × r rows (the shortlist), each of the k rounds is one
    * qid-keyed window + one qid join, and lazy localCheckpoints keep
    * the per-round plan constant (the p20/p51 loop device — at cluster
    * scale swap for persist). The scale knob is the shortlist builder
    * in front (p09/p41/p49 — any of the top-k paths), not this stage.
    *
    * Numerics for the differential oracle: `rel` and the pairwise
    * penalty are [[cosine]] (bit-exact DuckDB mirror), the penalty
    * accumulates through two-argument `greatest` (order-insensitive
    * max, no float fold), and the score is the literal two-product
    * expression above — every selection compares identical doubles in
    * both engines, so the greedy trajectory cannot diverge.
    *
    * @param cands shortlist frame (qid, cid, rel, ce) — `ce` the
    *   candidate embedding, `rel` its query relevance, ≤ r rows per qid
    */
  def mmrRerank(cands: DataFrame, k: Int, lam: Double): DataFrame = {
    val score = lit(lam) * col("rel") - lit(1.0 - lam) * col("ms")
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    var rem = cands.withColumn("ms", lit(0.0)).localCheckpoint(eager = false)
    val picks = Seq.newBuilder[DataFrame]
    for (i <- 1 to k) {
      val p = rem.withColumn("score", score)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("qid"), col("cid"), col("ce"), col("score"))
        .localCheckpoint(eager = false)
      picks += p.select(col("qid"), col("cid"),
        round(col("score"), 4).as("mmr"), lit(i).as("rnk"))
      if (i < k)
        rem = rem
          .join(p.select(col("qid"), col("cid").as("__pc"), col("ce").as("__pe")),
            Seq("qid"))
          .filter(col("cid") =!= col("__pc"))
          .select(col("qid"), col("cid"), col("rel"), col("ce"),
            greatest(col("ms"), cosine(col("ce"), col("__pe"))).as("ms"))
          .localCheckpoint(eager = false)
    }
    picks.result().reduce(_.unionByName(_))
  }

  /** Brute-force shortlist (r per query, embeddings riding along) →
    * [[mmrRerank]]. The shortlist is p09's shape; swap in a stored
    * probe (p41/p49 + an id-join for `ce`) when the corpus is indexed.
    */
  def mmrDiverseTopK(corpus: DataFrame, queries: DataFrame,
                     r: Int, k: Int, lam: Double): DataFrame = {
    val wR = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    val cands = corpus.as("c")
      .crossJoin(broadcast(queries.as("q")))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cid"),
        cosine(col("q.embedding"), col("c.embedding")).as("rel"),
        col("c.embedding").as("ce"))
      .withColumn("rn", row_number().over(wR)).filter(col("rn") <= r)
      .select(col("qid"), col("cid"), col("rel"), col("ce"))
    mmrRerank(cands, k, lam)
  }

  /** p66: MMR top-5 from a brute-force top-20 shortlist, λ = 0.5
    * (exactly representable; both engines parse the identical double).
    */
  def mmrDiverse(s: SparkSession, d: String): DataFrame =
    mmrDiverseTopK(embeddings(s, d),
        embeddings(s, d).filter(col("vec_id") < 5), r = 20, k = 5, lam = 0.5)
      .orderBy(col("qid"), col("rnk"))

  /** The greedy loop UNROLLED into k chained CTE steps (s1..s5), each
    * `r_i` carrying the incremental `greatest`-folded penalty — the
    * exact SQL twin of [[mmrRerank]]'s round i.
    */
  val mmrOracle: String = {
    val qc = duckCos("q.embedding", "c.embedding")
    val steps = (1 to 5).map { i =>
      val prev = s"r${i - 1}"
      val pick =
        s"""s$i AS (
           |  SELECT qid, cid, ce, score FROM (
           |    SELECT qid, cid, ce, (0.5 * rel - 0.5 * ms) AS score,
           |           row_number() OVER (PARTITION BY qid
           |                ORDER BY (0.5 * rel - 0.5 * ms) DESC, cid) AS rn
           |    FROM $prev) WHERE rn = 1)"""
      val advance =
        s"""r$i AS (
           |  SELECT r.qid, r.cid, r.rel, r.ce,
           |         greatest(r.ms, ${duckCos("r.ce", "s.ce")}) AS ms
           |  FROM $prev r JOIN s$i s ON r.qid = s.qid AND r.cid <> s.cid)"""
      if (i < 5) s"$pick,\n$advance" else pick
    }.mkString(",\n")
    val union = (1 to 5)
      .map(i => s"SELECT qid, cid, score, $i AS rnk FROM s$i")
      .mkString("\n       UNION ALL ")
    s"""WITH cand AS (
       |  SELECT qid, cid, rel, ce FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid, $qc AS rel,
       |           c.embedding AS ce,
       |           row_number() OVER (PARTITION BY q.vec_id
       |                ORDER BY $qc DESC, c.vec_id) AS rn
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) WHERE rn <= 20),
       |r0 AS (SELECT qid, cid, rel, ce, 0.0 AS ms FROM cand),
       |$steps
       |SELECT qid, cid, round(score, 4) AS mmr, CAST(rnk AS INTEGER) AS rnk
       |FROM ($union)
       |ORDER BY qid, rnk""".stripMargin
  }

  /** p55: p49's shortlist (same store, same models, r=30) refined to an
    * exact top-10 against the p41-layout embedding store. Stores are
    * built once per JVM per dataset (the shared [[IndexStores]]
    * contract); the codes store is SHARED with p49 via
    * [[codesStoreFor]].
    */
  private val RefineR = 30

  private def codesStoreFor(s: SparkSession, d: String,
                            cents: Array[(Int, Seq[Float])],
                            cb: Array[(Int, Seq[Seq[Float]])]): String =
    IndexStores.of("ivfpq", d) { p =>
      ivfPqWrite(cents, cb, embeddings(s, d), p)
    }

  def ivfPqRefined(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = pqCodebook(emb)
    val codes = codesStoreFor(s, d, cents, cb)
    val embStore = IndexStores.of("ivfemb", d) { p =>
      Similarity.ivfWrite(emb, cents, p)
    }
    ivfPqRefineTopK(s, codes, embStore, emb.filter(col("vec_id") < 5),
        cents, cb, k = 10, r = RefineR, nProbe = 2)
      .orderBy(col("qid"), col("rnk"))
  }

  val ivfPqRefinedOracle: String = {
    val ccos = duckCos("e.embedding", "c.ce")
    val qq = duckDot("q.embedding", "q.embedding")
    val qc = duckDot("q.embedding", "c.embedding")
    val cc = duckDot("c.embedding", "c.embedding")
    s"""WITH cents AS (
       |  SELECT vec_id AS ccid, embedding AS ce FROM embeddings WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id AS cid_, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT e.vec_id, c.ccid AS cell,
       |           row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY $ccos DESC, c.ccid) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 5) WHERE rn <= 2),
       |$pqCte,
       |q AS (SELECT CAST(vec_id AS INTEGER) AS qid, embedding
       |      FROM embeddings WHERE vec_id < 5),
       |lut AS (SELECT q.qid, sp.s, c.code,
       |          ((${duckDot("q.embedding[sp.s*16+1 : sp.s*16+16]", "q.embedding[sp.s*16+1 : sp.s*16+16]")}
       |            - 2.0 * ${duckDot("q.embedding[sp.s*16+1 : sp.s*16+16]", "c.embedding[sp.s*16+1 : sp.s*16+16]")})
       |            + ${duckDot("c.embedding[sp.s*16+1 : sp.s*16+16]", "c.embedding[sp.s*16+1 : sp.s*16+16]")}) AS pd
       |        FROM q CROSS JOIN sp CROSS JOIN cb c),
       |cand AS (SELECT p.qid, a.cid_ AS cid, cd.c0, cd.c1, cd.c2, cd.c3
       |         FROM assign a JOIN probes p ON a.cell = p.cell AND p.qid <> a.cid_
       |         JOIN cd ON cd.vec_id = a.cid_),
       |adc AS (SELECT cand.qid, cand.cid,
       |          (((l0.pd + l1.pd) + l2.pd) + l3.pd) AS adc
       |        FROM cand
       |        JOIN lut l0 ON l0.qid = cand.qid AND l0.s = 0 AND l0.code = cand.c0
       |        JOIN lut l1 ON l1.qid = cand.qid AND l1.s = 1 AND l1.code = cand.c1
       |        JOIN lut l2 ON l2.qid = cand.qid AND l2.s = 2 AND l2.code = cand.c2
       |        JOIN lut l3 ON l3.qid = cand.qid AND l3.s = 3 AND l3.code = cand.c3),
       |short AS (SELECT qid, cid FROM (
       |            SELECT qid, cid,
       |              row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rnk
       |            FROM adc) WHERE rnk <= $RefineR),
       |ex AS (SELECT s.qid, s.cid,
       |         (($qq - 2.0 * $qc) + $cc) AS dist
       |       FROM short s
       |       JOIN embeddings q ON q.vec_id = s.qid
       |       JOIN embeddings c ON c.vec_id = s.cid),
       |r AS (SELECT qid, cid, dist,
       |        CAST(row_number() OVER (PARTITION BY qid
       |                                ORDER BY dist, cid) AS INTEGER) AS rnk
       |      FROM ex)
       |SELECT CAST(qid AS BIGINT) AS qid, cid, round(dist, 6) AS dist, rnk
       |FROM r WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
  }

  /** p56 (GRADUATED from rows-only in round 15, the p124 precedent):
    * PQ codes + reconstruction error under the FROZEN-trained codebook
    * ([[trainPqCodebookFrozen]] — exact integer micro-unit means make
    * the trained model a deterministic function of corpus content, so
    * the full differential the float form could not carry becomes
    * possible: the oracle re-derives the seed, both Lloyd rounds and
    * the final encode from first principles). The float `eps`-budgeted
    * form ([[trainPqCodebook]]) remains for callers that want the
    * early-exit; Pipeline6Spec still pins its Lloyd guarantee.
    */
  def pqCodesTrained(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    pqEncode(trainPqCodebookFrozen(emb), emb).orderBy(col("vec_id"))
  }

  /** p56 oracle: the frozen per-subspace Lloyd chain re-derived from
    * first principles — the seed codebook is [[pqCodebook]]'s coreset
    * (the first nCodes vectors, sliced per subspace), each round is
    * the argmin assignment under the dot-identity distance (the p47
    * CTE device) followed by the exact integer micro-mean
    * (`sum(round(pv·10⁶)) // count`, truncating on BIGINTs like Java
    * long division), and the final SELECT is p47's encode pivot under
    * the last round's codebook. One SQL definition of a PQ Lloyd round
    * (the Pipeline14.lloydRoundCte discipline on the subspace grid).
    */
  val pqTrainedOracle: String = {
    val sub = 16 // PqDim / PqM — pinned by the registered (8, 4) instance
    def vs(e: String, s: String) = s"$e.embedding[$s*$sub+1 : $s*$sub+$sub]"
    def pqRound(t: Int): String = {
      val prev = s"pqcb${t - 1}"
      val v = vs("e", "b.s")
      s"""pqd$t AS (
         |  SELECT e.vec_id, b.s, b.code,
         |         ((${duckDot(v, v)} - 2.0 * ${duckDot(v, "b.cv")})
         |           + ${duckDot("b.cv", "b.cv")}) AS dist
         |  FROM embeddings e CROSS JOIN $prev b),
         |pqa$t AS MATERIALIZED (
         |  SELECT vec_id, s, code FROM (
         |    SELECT vec_id, s, code,
         |           row_number() OVER (PARTITION BY vec_id, s
         |                              ORDER BY dist, code) AS rn
         |    FROM pqd$t) WHERE rn = 1),
         |pqm$t AS (
         |  SELECT a.s, a.code, u.i AS pos,
         |         CAST(sum(round(CAST(e.embedding[a.s*$sub + u.i + 1]
         |              AS DOUBLE) * 1000000)) AS BIGINT) AS ms,
         |         count(*) AS c
         |  FROM pqa$t a JOIN embeddings e USING (vec_id),
         |       unnest(range(0, $sub)) AS u(i)
         |  GROUP BY 1, 2, 3),
         |pqcb$t AS MATERIALIZED (
         |  SELECT p.s, p.code, coalesce(n.cv, p.cv) AS cv
         |  FROM pqcb${t - 1} p LEFT JOIN (
         |    SELECT s, code,
         |           list(CAST(CAST(ms // c AS DOUBLE) / 1000000 AS REAL)
         |                ORDER BY pos) AS cv
         |    FROM pqm$t GROUP BY 1, 2) n USING (s, code))""".stripMargin
    }
    val fv = vs("e", "b.s")
    val errFold = (0 until PqM).map(s => s"max(CASE WHEN s = $s THEN dist END)")
      .reduceLeft((a, b) => s"($a + $b)")
    val codePivot = (0 until PqM)
      .map(s => s"max(CASE WHEN s = $s THEN code END) AS c$s").mkString(", ")
    s"""WITH pqcb0 AS MATERIALIZED (
       |  SELECT CAST(sp.s AS INTEGER) AS s, CAST(c.vec_id AS INTEGER) AS code,
       |         CAST(${vs("c", "sp.s")} AS REAL[]) AS cv
       |  FROM embeddings c CROSS JOIN range(0, $PqM) sp(s)
       |  WHERE c.vec_id < $PqNCodes),
       |${(1 to PqTrainedRounds).map(pqRound).mkString(",\n")},
       |fin AS (
       |  SELECT e.vec_id, b.s, b.code,
       |         ((${duckDot(fv, fv)} - 2.0 * ${duckDot(fv, "b.cv")})
       |           + ${duckDot("b.cv", "b.cv")}) AS dist,
       |         row_number() OVER (PARTITION BY e.vec_id, b.s
       |                            ORDER BY ((${duckDot(fv, fv)}
       |              - 2.0 * ${duckDot(fv, "b.cv")})
       |              + ${duckDot("b.cv", "b.cv")}), b.code) AS rn
       |  FROM embeddings e CROSS JOIN pqcb$PqTrainedRounds b)
       |SELECT vec_id, $codePivot, round($errFold, 6) AS err
       |FROM fin WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p45_bm25_topk", bm25TopK, Some(bm25TopKOracle)),
    // the stored layout is semantics-preserving: same oracle as p45
    QuerySpec("p50_bm25_stored", bm25Stored, Some(bm25TopKOracle)),
    QuerySpec("p46_hybrid_rrf", hybridRrf, Some(hybridRrfOracle)),
    QuerySpec("p47_pq_codes", pqCodesQuery, Some(pqCodesOracle)),
    QuerySpec("p48_pq_adc", pqAdcTopK, Some(pqAdcTopKOracle)),
    QuerySpec("p49_ivfpq_stored", ivfPqStored, Some(ivfPqStoredOracle)),
    QuerySpec("p55_ivfpq_refine", ivfPqRefined, Some(ivfPqRefinedOracle)),
    QuerySpec("p56_pq_trained", pqCodesTrained, Some(pqTrainedOracle),
      Pricing.Training),
    QuerySpec("p57_phrase_topk", phraseTopK, Some(phraseTopKOracle)),
    // the positional layout is semantics-preserving: same oracle as p57
    QuerySpec("p58_phrase_stored", phraseStored, Some(phraseTopKOracle)),
    QuerySpec("p62_proximity_topk", proximityTopK, Some(proximityTopKOracle)),
    // the positional layout is semantics-preserving: same oracle as p62
    QuerySpec("p63_proximity_stored", proximityStored,
      Some(proximityTopKOracle)),
    QuerySpec("p64_ivfpq_residual", ivfPqResidualStored,
      Some(ivfPqResidualOracle)),
    QuerySpec("p66_mmr_rerank", mmrDiverse, Some(mmrOracle)),
    QuerySpec("p68_lex_stats", lexStats, Some(lexStatsOracle)),
  )
}
