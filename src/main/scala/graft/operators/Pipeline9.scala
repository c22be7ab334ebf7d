package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 9: pseudo-relevance feedback — the
  * query-expansion loop that closes the retrieval stack (seed query →
  * feedback docs → expansion terms → expanded query), RM3 re-expressed
  * with an all-integer scoring model so the DATA-DEPENDENT expansion
  * term set stays oracle-exact.
  */
object Pipeline9 {

  /** Seed terms (p45's pinned BM25 vocabulary family), feedback-set /
    * expansion / result sizes of the registered query.
    */
  private val SeedTerms = Seq("merge", "stream", "vector")
  private val FbDocs = 10
  private val ExpTerms = 5
  private val TopK = 10

  /** p80: RM3-style pseudo-relevance-feedback search. Round 1 ranks
    * the corpus for the seed query; the top-`fbDocs` results become
    * the feedback set; the `expTerms` heaviest non-seed terms of that
    * set (by summed tf, ties by term) expand the query; round 2 ranks
    * for the union. This is the classic recall lever of lexical
    * retrieval — vocabulary mismatch ("stream" misses docs that say
    * "window batch flow") is bridged by terms the engine itself
    * discovered in the seed query's neighborhood.
    *
    * Scoring model: quantized-idf weighted tf — `w(t) = (N·1000) DIV
    * df(t)`, `score(d) = Σ_t tf(d,t)·w(t)` — EXACT integer arithmetic
    * end to end. This is deliberate: p45's float BM25 keeps its oracle
    * honest by folding a FIXED term list in a fixed order, a device a
    * data-dependent expansion set cannot use; quantized idf keeps the
    * idf shape (rare terms weigh ~N/df more) while making both rounds,
    * the tie-broken feedback cut, and the expansion argmax bit-exact
    * across engines — rank fidelity is what PRF needs from round 1,
    * not BM25's saturation curve. (Swap [[Pipeline6]] BM25 in for the
    * final ranking when serving, the composition point documented
    * there.)
    *
    * Scale shape: ONE corpus tokenize + one (doc, term)-keyed tf
    * aggregation — the same table the stored inverted index (p50)
    * materializes, which is the at-rest composition: both scoring
    * passes are term-keyed probes that broadcast their term sets
    * (seed, then seed ∪ expansion — both tiny by construction), the
    * feedback cut is a bounded TakeOrdered, and the expansion
    * aggregation runs over only the feedback docs' rows (broadcast
    * semi-join on `fbDocs` ids). Document-frequency weights are a
    * vocab-bounded table joined by term. Nothing corpus-wide happens
    * twice.
    */
  def rm3Search(s: SparkSession, d: String): DataFrame =
    rm3SearchOf(documents(s, d), SeedTerms, FbDocs, ExpTerms, TopK)

  /** Library entry: PRF search over any (doc_id, text) frame. */
  def rm3SearchOf(docs: DataFrame, seed: Seq[String], fbDocs: Int,
                  expTerms: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // tf: the posting table (one corpus shuffle; = the p50 store)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val n = docs.agg(count(lit(1)).as("n"))
    val w = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("term"), expr("CAST(n * 1000 DIV df AS BIGINT)").as("w"))
      .localCheckpoint(eager = false)
    def score(terms: DataFrame): DataFrame =
      tf.join(broadcast(terms), Seq("term"))
        .join(w, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("w")).as("score"))
    val seedDf = seed.toDF("term")
    val fb = score(seedDf)
      .orderBy(col("score").desc, col("doc_id")).limit(fbDocs)
      .select(col("doc_id"))
    val expansion = tf.join(broadcast(fb), Seq("doc_id"))
      .filter(!col("term").isInCollection(seed))
      .groupBy(col("term")).agg(sum(col("tf")).as("t"))
      .orderBy(col("t").desc, col("term")).limit(expTerms)
      .select(col("term"))
    val expanded = seedDf.union(expansion)
    score(expanded)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }

  val rm3Oracle: String = {
    val seedList = SeedTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n FROM documents),
       |w AS (SELECT term, CAST(n * 1000 // df AS BIGINT) AS w
       |      FROM dft CROSS JOIN n),
       |seed AS (SELECT unnest([$seedList]) AS term),
       |s0 AS (SELECT tf.doc_id, sum(tf.tf * w.w) AS score
       |       FROM tf JOIN seed USING (term) JOIN w ON w.term = tf.term
       |       GROUP BY tf.doc_id),
       |fb AS (SELECT doc_id FROM s0 ORDER BY score DESC, doc_id LIMIT $FbDocs),
       |ex AS (SELECT tf.term FROM tf JOIN fb USING (doc_id)
       |       WHERE tf.term NOT IN (SELECT term FROM seed)
       |       GROUP BY tf.term
       |       ORDER BY sum(tf.tf) DESC, tf.term LIMIT $ExpTerms),
       |qterms AS (SELECT term FROM seed UNION SELECT term FROM ex),
       |s1 AS (SELECT tf.doc_id, CAST(sum(tf.tf * w.w) AS BIGINT) AS score
       |       FROM tf JOIN qterms USING (term) JOIN w ON w.term = tf.term
       |       GROUP BY tf.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
       |         AS rank,
       |       doc_id, score
       |FROM (SELECT * FROM s1 ORDER BY score DESC, doc_id LIMIT $TopK)
       |ORDER BY rank""".stripMargin
  }

  // ---- Append-stable shard publishing (p81) ----

  /** Seed/size shared with p75; the registered query splits the corpus
    * into a base (doc_id % 5 ≠ 0) and an increment (doc_id % 5 = 0) so
    * the append path is exercised against a non-trivial base at every
    * SF.
    */
  private val ShardSeed = "graft-shard-7"
  private val ShardSize = 64

  /** p81: append-stable sharding — the incremental-release twin of
    * p75. A global re-shuffle (p75) re-permutes EVERY doc when the
    * corpus grows, so a daily ingest would rewrite every shard;
    * the append discipline instead freezes the base assignment and
    * places new docs at positions base_count+1… in their own seeded
    * order — the last partial shard fills up, fresh shards extend the
    * tail, and every FULL base shard's bytes (and manifest row) are
    * untouched (spec-pinned). The trade: appended docs mix only among
    * themselves, not into old shards — the documented stability/mixing
    * trade-off of release engineering; re-run p75 when a full remix is
    * worth republishing the corpus.
    *
    * Scale shape: two independent TwoLevel global ranks (each the p75
    * no-single-partition-sort device) + one broadcast 1-row base
    * count; the union is append-only.
    */
  def shardAppend(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    shardAppendManifest(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), ShardSize, ShardSeed)
  }

  /** Library entry: combined manifest of a frozen `base` plus an
    * appended `inc`, both (doc_id, text) frames.
    */
  def shardAppendManifest(base: DataFrame, inc: DataFrame, shardSize: Int,
                          seed: String): DataFrame = {
    def ranked(df: DataFrame): DataFrame =
      TwoLevel.withGlobalRankBy(
        df.select(col("doc_id"),
            size(split(col("text"), " ")).as("n_words"))
          .withColumn("__k",
            md5(concat(lit(seed + ":"), col("doc_id").cast("string")))),
        shardExpr = conv(substring(col("__k"), 1, 2), 16, 10).cast("long"),
        order = Seq(col("__k"), col("doc_id")),
        outCol = "__rn")
    val nb = base.agg(count(lit(1)).as("nb"))
    val all = ranked(base).crossJoin(broadcast(nb))
      .select(col("doc_id"), col("n_words"), col("__k"), col("__rn"))
      .union(ranked(inc).crossJoin(broadcast(nb))
        .select(col("doc_id"), col("n_words"), col("__k"),
                (col("__rn") + col("nb")).as("__rn")))
    all.withColumn("shard", expr(s"CAST((__rn - 1) DIV $shardSize AS INT)"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).cast("long").as("n_tokens"),
           sum(col("doc_id")).as("id_sum"),
           min(col("__k")).as("lo_key"),
           max(col("__k")).as("hi_key"))
      .orderBy(col("shard"))
  }

  val shardAppendOracle: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |nb AS (SELECT count(*) AS nb FROM base),
       |rb AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |              md5('$ShardSeed:' || doc_id) AS k,
       |              row_number() OVER (ORDER BY md5('$ShardSeed:' || doc_id),
       |                                 doc_id) AS rn
       |       FROM base),
       |ri AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |              md5('$ShardSeed:' || doc_id) AS k,
       |              row_number() OVER (ORDER BY md5('$ShardSeed:' || doc_id),
       |                                 doc_id) + nb AS rn
       |       FROM inc CROSS JOIN nb),
       |r AS (SELECT * FROM rb UNION ALL SELECT * FROM ri)
       |SELECT CAST((rn - 1) // $ShardSize AS INTEGER) AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       min(k) AS lo_key, max(k) AS hi_key
       |FROM r
       |GROUP BY shard ORDER BY shard""".stripMargin

  // ---- Token-distribution drift report (p82) ----

  /** Hashed-feature space of the drift report (the DSIR/p72 device:
    * B-bounded no matter the corpus) and the report size.
    */
  private val DriftBuckets = 1024
  private val DriftTopN = 20

  /** The established cross-engine feature hash: md5 7-hex-prefix mod B. */
  private def driftBucket(tok: org.apache.spark.sql.Column) =
    pmod(conv(substring(md5(tok), 1, 7), 16, 10).cast("long"),
      lit(DriftBuckets.toLong))

  /** p82: token-distribution drift between a base corpus and an
    * ingestion increment — the monitoring gate that catches a feed
    * going bad (language flip, boilerplate flood, encoding breakage)
    * BEFORE the increment is admitted. Each side's hashed-unigram
    * distribution is reduced to per-bucket occurrence rates in exact
    * integer parts-per-million (`rate = count·10⁶ DIV total`); the
    * report is the top-N buckets by squared rate difference (ppm²),
    * ties by bucket — all integer arithmetic, so the ranking is
    * bit-identical across engines and partitionings.
    *
    * Scale shape: tokenize+hash are map-side; each side folds into a
    * B=1024-row count table (map-side partial agg does the heavy
    * lifting); totals ride as broadcast 1-row frames; the compare and
    * top-N run on 2·B rows — corpus-independent, like every model
    * table in this library. The registered split (doc_id mod 5) stands
    * in for yesterday's corpus vs today's batch.
    */
  def driftReport(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    driftReportOf(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), DriftTopN)
  }

  /** Per-bucket hashed-token occurrence rates of a (…, text) frame in
    * exact integer ppm — the B-bounded "distribution signature" shared
    * by the batch report and the streaming gate.
    */
  private[graft] def bucketRates(df: DataFrame, cnt: String,
                                 rate: String): DataFrame = {
    val bk = df.select(explode(split(col("text"), " ")).as("tok"))
      .select(driftBucket(col("tok")).as("b"))
    val total = bk.agg(count(lit(1)).as("t"))
    bk.groupBy(col("b")).agg(count(lit(1)).as(cnt))
      .crossJoin(broadcast(total))
      .select(col("b"), col(cnt),
        expr(s"CAST($cnt * 1000000 DIV t AS BIGINT)").as(rate))
  }

  /** Library entry: drift report between any two (…, text) frames. */
  def driftReportOf(base: DataFrame, inc: DataFrame, topN: Int): DataFrame = {
    bucketRates(base, "cb", "rb")
      .join(bucketRates(inc, "ci", "ri"), Seq("b"), "full_outer")
      .select(col("b").cast("int").as("bucket"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("ci"), lit(0L)).as("ci"),
        coalesce(col("rb"), lit(0L)).as("rb"),
        coalesce(col("ri"), lit(0L)).as("ri"))
      .withColumn("drift",
        (col("ri") - col("rb")) * (col("ri") - col("rb")))
      .orderBy(col("drift").desc, col("bucket"))
      .limit(topN)
  }

  val driftOracle: String =
    s"""WITH bb AS (
       |  SELECT CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 7)
       |              AS BIGINT) % $DriftBuckets AS b
       |  FROM documents WHERE doc_id % 5 <> 0),
       |bi AS (
       |  SELECT CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 7)
       |              AS BIGINT) % $DriftBuckets AS b
       |  FROM documents WHERE doc_id % 5 = 0),
       |cb AS (SELECT b, count(*) AS cb,
       |              CAST(count(*) * 1000000 // (SELECT count(*) FROM bb)
       |                   AS BIGINT) AS rb
       |       FROM bb GROUP BY b),
       |ci AS (SELECT b, count(*) AS ci,
       |              CAST(count(*) * 1000000 // (SELECT count(*) FROM bi)
       |                   AS BIGINT) AS ri
       |       FROM bi GROUP BY b),
       |j AS (SELECT CAST(b AS INTEGER) AS bucket,
       |             coalesce(cb, 0) AS cb, coalesce(ci, 0) AS ci,
       |             coalesce(rb, 0) AS rb, coalesce(ri, 0) AS ri
       |      FROM cb FULL OUTER JOIN ci USING (b))
       |SELECT bucket, cb, ci, rb, ri,
       |       CAST((ri - rb) * (ri - rb) AS BIGINT) AS drift
       |FROM j ORDER BY drift DESC, bucket LIMIT $DriftTopN""".stripMargin

  // ---- MaxP passage retrieval (p84) ----

  private val PassageTerms = Seq("merge", "stream", "vector")
  private val PassageStride = 80
  private val PassageWidth = 100
  private val PassageTopK = 10

  /** p84: passage-level retrieval with MaxP aggregation — score every
    * overlapping character window (the p38 chunker: stride 80, width
    * 100) for the query terms, then rank DOCUMENTS by their best
    * passage (max chunk score, ties to the earliest chunk). This is
    * the long-document retrieval discipline (Dai & Callan's MaxP):
    * a 10k-token document about many things ranks by its most relevant
    * passage, not by its diluted whole-document statistics — and the
    * winning (start, chunk) offsets are exactly what a RAG pipeline
    * feeds the model.
    *
    * Scoring: occurrences-in-window × quantized idf — `tf` counted by
    * the replace-and-measure device ((len − len(replace(chunk, t)))
    * DIV len(t), substring semantics: a term cut by a window boundary
    * counts in neither window, the documented chunking trade-off) and
    * the p80 integer idf (N·1000 DIV df), so the whole data-dependent
    * pipeline hash-checks.
    *
    * Scale shape: chunk explosion and scoring are MAP-ONLY (the term
    * list and the two 1-row stats frames — doc count and per-term dfs
    * — broadcast; the score is a plan-literal fold over them); MaxP is
    * one doc-keyed reduce; the final cut is a bounded TakeOrdered.
    * The corpus pays one pass, exploded ×(width/stride).
    */
  def maxpSearch(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val n = docs.agg(count(lit(1)).as("n"))
    val dfExprs = PassageTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("text").contains(t), 1L).otherwise(0L)).as(s"df$i")
    }
    val dfs = docs.agg(dfExprs.head, dfExprs.tail: _*)
    val chunks = docs
      .select(col("doc_id"), col("text"), col("n_chars"),
        explode(sequence(lit(0L),
          expr(s"greatest(n_chars - 1, 0) DIV $PassageStride"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * PassageStride).as("start"),
        expr(s"substring(text, CAST(chunk_idx * $PassageStride + 1 AS INT), " +
          s"$PassageWidth)").as("chunk"))
    val score = PassageTerms.zipWithIndex.map { case (t, i) =>
      ((length(col("chunk")) - length(regexp_replace(col("chunk"),
          java.util.regex.Pattern.quote(t), ""))) / lit(t.length)).cast("long") *
        expr(s"CAST(n * 1000 DIV df$i AS BIGINT)")
    }.reduce(_ + _)
    val best = chunks.crossJoin(broadcast(n)).crossJoin(broadcast(dfs))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        score.as("score"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("chunk_idx"))))
      .filter(col("rn") === 1 && col("score") > 0)
    best.orderBy(col("score").desc, col("doc_id")).limit(PassageTopK)
      .select(col("doc_id"), col("chunk_idx"), col("start"), col("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("chunk_idx"), col("start"),
        col("score"))
      .orderBy(col("rank"))
  }

  val maxpOracle: String = {
    val dfsSel = PassageTerms.zipWithIndex.map { case (t, i) =>
      s"count(*) FILTER (WHERE contains(text, '$t')) AS df$i"
    }.mkString(", ")
    val scoreSql = PassageTerms.zipWithIndex.map { case (t, i) =>
      s"((length(chunk) - length(replace(chunk, '$t', ''))) // ${t.length})" +
        s" * (n * 1000 // df$i)"
    }.mkString(" + ")
    s"""WITH n AS (SELECT count(*) AS n FROM documents),
       |dfs AS (SELECT $dfsSel FROM documents),
       |ch AS (SELECT doc_id, i AS chunk_idx, i * $PassageStride AS start,
       |              substr(text, CAST(i * $PassageStride + 1 AS INTEGER),
       |                     $PassageWidth) AS chunk
       |       FROM documents,
       |            unnest(range(0, greatest(n_chars - 1, 0) // $PassageStride
       |                            + 1)) AS t(i)),
       |sc AS (SELECT doc_id, chunk_idx, start,
       |              CAST($scoreSql AS BIGINT) AS score
       |       FROM ch CROSS JOIN n CROSS JOIN dfs),
       |best AS (SELECT doc_id, chunk_idx, start, score,
       |                row_number() OVER (PARTITION BY doc_id
       |                  ORDER BY score DESC, chunk_idx) AS rn
       |         FROM sc)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
       |         AS rank,
       |       doc_id, chunk_idx, start, score
       |FROM (SELECT doc_id, chunk_idx, start, score FROM best
       |      WHERE rn = 1 AND score > 0
       |      ORDER BY score DESC, doc_id LIMIT $PassageTopK)
       |ORDER BY rank""".stripMargin
  }

  // ---- Corpus snapshot diff (p88) ----

  /** p88: snapshot diff between two corpus versions — every doc id
    * classified added / removed / changed / unchanged (text equality
    * decides "changed") and rolled up per status with id checksums.
    * The versioning artifact every managed corpus needs: a release
    * note is literally this table, and an incremental pipeline
    * (p35/p81) consumes exactly the added+changed slice. The
    * registered query simulates two snapshots from the one corpus
    * with deterministic id-mod slices (old drops ids ≡9 (mod 10), new
    * drops ≡0 and uppercases ≡5 — both sides of the differential
    * apply the same transform, so "changed" is non-trivial).
    *
    * Scale shape: one full-outer id-keyed join of two (id, text)
    * projections — at scale join on (id, fingerprint) from p02 so the
    * text never shuffles — and a 4-row roll-up.
    */
  def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    corpusDiffOf(
      docs.filter(col("doc_id") % 10 =!= 9).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5, upper(col("text")))
            .otherwise(col("text")).as("text")))
  }

  /** Library entry: status summary between any two (doc_id, text)
    * snapshots.
    */
  def corpusDiffOf(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), col("text").as("t_old"))
    val n = newSnap.select(col("doc_id"), col("text").as("t_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("t_old").isNull, "added")
          .when(col("t_new").isNull, "removed")
          .when(col("t_old") =!= col("t_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("status"))
  }

  val corpusDiffOracle: String =
    """WITH o AS (SELECT doc_id, text AS t_old FROM documents
      |           WHERE doc_id % 10 <> 9),
      |n AS (SELECT doc_id,
      |             CASE WHEN doc_id % 10 = 5 THEN upper(text) ELSE text END
      |               AS t_new
      |      FROM documents WHERE doc_id % 10 <> 0),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |             CASE WHEN o.doc_id IS NULL THEN 'added'
      |                  WHEN n.doc_id IS NULL THEN 'removed'
      |                  WHEN t_old <> t_new THEN 'changed'
      |                  ELSE 'unchanged' END AS status
      |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT status, count(*) AS n_docs,
      |       CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ---- Greedy LM decode (p87) ----

  private val DecodeSeed = "data"
  private val DecodeSteps = 8

  /** p87: greedy argmax decoding from the corpus bigram LM — from a
    * seed word, repeatedly follow the most frequent continuation
    * (ties to the lexicographically first word) for up to 8 steps,
    * emitting (step, word). The "eval the model you just trained"
    * smoke of a data pipeline: the p71 LM's counts drive an iterative
    * SCALAR chase, the third iteration class in the registry after
    * frontier loops (q63) and fixpoint peels (q66) — each step is a
    * 1-row argmax whose input is the previous step's OUTPUT VALUE,
    * which neither joins nor recursion express without one round-trip
    * per step.
    *
    * Scale shape: the chase runs on the MODEL (vocab²-bounded, the
    * p69-argmax driver-side contract — one tiny action per step, the
    * corpus is never rescanned); decoding is 8 actions over a
    * localCheckpointed 961-row frame here. The oracle unrolls the
    * steps as chained LIMIT-1 CTEs; an exhausted word (no outgoing
    * bigram) ends both sides' chains identically because an empty CTE
    * propagates through the chain.
    */
  def lmDecode(s: SparkSession, d: String): DataFrame = {
    val model = Pipeline7.lmTrain(documents(s, d))
      .select(col("w1"), col("w2"), col("c12")).localCheckpoint()
    val steps = scala.collection.mutable.ArrayBuffer(0 -> DecodeSeed)
    var word = DecodeSeed
    var i = 1
    var live = true
    while (i <= DecodeSteps && live) {
      val nxt = model.filter(col("w1") === word)
        .orderBy(col("c12").desc, col("w2")).limit(1).collect()
      if (nxt.isEmpty) live = false
      else { word = nxt(0).getString(1); steps += (i -> word); i += 1 }
    }
    import s.implicits._
    steps.toSeq.toDF("step", "word").orderBy(col("step"))
  }

  val lmDecodeOracle: String = {
    val stepCtes = (1 to DecodeSteps).map { i =>
      s"""w$i AS (SELECT $i AS step, c12.w2 AS w
         |        FROM c12 JOIN w${i - 1} p ON c12.w1 = p.w
         |        ORDER BY c12.c DESC, c12.w2 LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to DecodeSteps)
      .map(i => s"SELECT step, w FROM w$i").mkString("\nUNION ALL ")
    s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT w[i] AS w1, w[i + 1] AS w2
       |       FROM ws, unnest(range(1, len(w))) t(i)),
       |c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
       |w0 AS (SELECT 0 AS step, '$DecodeSeed' AS w),
       |$stepCtes
       |SELECT CAST(step AS INTEGER) AS step, w AS word
       |FROM ($union)
       |ORDER BY step""".stripMargin
  }

  // ---- Per-source dataset scorecard (p86) ----

  /** p86: the dataset-card table — one row per source with its doc
    * and token totals, per-rule quality failure counts (the p74
    * verdicts aggregated, i.e. the reason histogram the thresholds
    * get audited with), composite pass count, and exact-duplicate
    * statistics (docs sharing their text with another doc of the SAME
    * source). This is the artifact a curator publishes next to a
    * corpus release and the first thing a consumer reads; every cell
    * is an integer count, so the whole card hash-checks.
    *
    * Scale shape: verdicts are map-only (p74); the roll-up is one
    * source-keyed aggregate; the within-source dup count is one
    * (source, text)-keyed aggregate joined back — all map-side
    * combining, output bounded by |sources|.
    */
  def sourceScorecard(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val verdicts = Pipeline8.qualityRulesOf(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val card = verdicts.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words").cast("long")).as("n_tokens"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
      sum(when(!col("r_wordcount"), 1L).otherwise(0L)).as("f_wordcount"),
      sum(when(!col("r_wordlen"), 1L).otherwise(0L)).as("f_wordlen"),
      sum(when(!col("r_stopword"), 1L).otherwise(0L)).as("f_stopword"),
      sum(when(!col("r_repetition"), 1L).otherwise(0L)).as("f_repetition"),
      sum(when(!col("r_diversity"), 1L).otherwise(0L)).as("f_diversity"))
    val dups = docs.groupBy(col("source"), col("text"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("n_dup_docs"))
    card.join(dups, Seq("source"))
      .orderBy(col("source"))
  }

  val sourceScorecardOracle: String =
    s"""WITH ${Pipeline8.qualityCtes},
       |vs AS (SELECT v.*, d.source
       |       FROM v JOIN documents d USING (doc_id)),
       |card AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |         CAST(sum(CASE WHEN r_wordcount AND r_wordlen AND r_stopword
       |                        AND r_repetition AND r_diversity
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |         CAST(sum(CASE WHEN NOT r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_wordcount,
       |         CAST(sum(CASE WHEN NOT r_wordlen THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_wordlen,
       |         CAST(sum(CASE WHEN NOT r_stopword THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_stopword,
       |         CAST(sum(CASE WHEN NOT r_repetition THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_repetition,
       |         CAST(sum(CASE WHEN NOT r_diversity THEN 1 ELSE 0 END) AS BIGINT)
       |           AS f_diversity
       |  FROM vs GROUP BY source),
       |dup AS (
       |  SELECT source,
       |         CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
       |           AS n_dup_docs
       |  FROM (SELECT source, text, count(*) AS n
       |        FROM documents GROUP BY source, text)
       |  GROUP BY source)
       |SELECT card.*, dup.n_dup_docs
       |FROM card JOIN dup USING (source)
       |ORDER BY source""".stripMargin

  // ---- Cross-modal dedup clusters (p85) ----

  /** p85: duplicate resolution across FOUR modalities at once — exact
    * text star edges (same `text`), perceptual image pairs (dHash
    * Hamming ≤ 3 over the decoded rasters), audio fingerprint pairs
    * (the p79 radius), and temporal video pairs (p90's aligned-frame
    * distance) union into ONE edge set, and the O(log n) contraction
    * labels every document with its cross-modal cluster's minimum id.
    * This is the dedup semantics a real multimodal corpus needs: two
    * documents whose text differs but whose image matches a third
    * document's audio twin are STILL one cluster — duplicate evidence
    * composes transitively across modalities, which per-modality
    * dedup silently misses.
    *
    * Scale shape: each modality contributes its already-banded pair
    * generation (never all-pairs); the union is pair-sized; the
    * contraction is p33's O(log n) loop. The oracle chains all three
    * formula-derived pair CTEs and resolves with recursive closure —
    * the largest composed oracle in the registry, which is the point:
    * the whole cross-modal pipeline hash-checks.
    *
    * Text modality emits STAR edges, not pairs: a raw-text self-join
    * would shuffle full document text as the join key and emit K²/2
    * pairs for a K-copy group — on a real corpus whose most common
    * duplicates are exact ones (a boilerplate page with 10⁶ copies →
    * 5·10¹¹ pairs), that is the scale-killer. One window over the
    * 8-byte text hash gives the K−1 edges (doc → group-min), which
    * yield IDENTICAL components under the contraction; the oracle's
    * all-pairs `tp` CTE closes to the same components by transitivity.
    * The hash key is TWO independently-seeded xxhash64 values (the
    * second mixes an extra literal column): a single 64-bit hash at
    * 10⁹ docs carries ~3 % birthday odds of a collision, and a
    * collision here WRONGLY merges clusters — 128 effective bits put
    * the wrong-merge probability near 2⁻⁶⁴·n²≈10⁻²⁰ while keeping the
    * shuffle key fixed-width (16 bytes). Length would NOT do as the
    * second component: boilerplate near-duplicates concentrate on few
    * lengths, exactly where the guard is needed.
    */
  /** The exact-text signature of p85's text feed: TWO independently
    * seeded xxhash64 keys — 128 effective bits, the composite the
    * exact-dedup family uses so collision mass stays negligible at
    * corpus-squared pair counts. One definition shared by the batch
    * p85, the incremental p132 and the streaming handler: all three
    * must agree bit-for-bit for the stored gate to be sound.
    */
  private[graft] def exactTextSig(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      xxhash64(col("text")).as("th"),
      xxhash64(lit("p85-salt"), col("text")).as("th2"))

  /** p85's text evidence on ANY document set: star edges min→member
    * per exact-text group (same components as all-pairs under the
    * closure, linearly many edges).
    */
  private[graft] def exactTextPairsOf(docs: DataFrame): DataFrame =
    exactPairsOfSig(exactTextSig(docs))

  /** The star-edge tail over an ALREADY-HASHED `(doc_id, th, th2)`
    * frame — split out so the cross-modal retraction can reconstruct
    * the exact-text evidence from the STORE's own rows (the 2-frame
    * clips pivot back to the signature pair) without touching text.
    */
  private[graft] def exactPairsOfSig(sig: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sig
      .withColumn("d1",
        min(col("doc_id")).over(Window.partitionBy(col("th"), col("th2"))))
      .filter(col("d1") < col("doc_id"))
      .select(col("d1"), col("doc_id").as("d2"))
  }

  /** The exact-text signature as 2-frame "clips" for the at-rest
    * banded store family: frame 0 = th, frame 1 = th2. The stored
    * exact-match gate is then [[Multimodal.videoNearDupStored]] at
    * radius 0 — equal length (always 2) and both frames aligned-equal
    * is precisely (th, th2) equality, the 128-bit composite preserved
    * at rest with zero new machinery.
    */
  private[graft] def exactTextSigFrames(docs: DataFrame): DataFrame =
    exactTextSig(docs)
      .select(col("doc_id"), explode(array(
          struct(lit(0).as("frame"), col("th").as("fhash")),
          struct(lit(1).as("frame"), col("th2").as("fhash")))).as("x"))
      .select(col("doc_id"), col("x.frame").as("frame"),
        lit(2).as("n_frames"), col("x.fhash").as("fhash"))

  def multimodalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val textPairs = exactTextPairsOf(docs)
    val imgPairs = Multimodal.perceptualNearDupPairs(
        Multimodal.decodeRaster(Multimodal.attachRaster(docs))
          .select(col("doc_id"), col("dhash")), maxHamming = 3)
      .select(col("d1"), col("d2"))
    val audioPairs = Multimodal.perceptualNearDupPairs(
        Multimodal.decodeWave(Multimodal.attachWave(docs))
          .select(col("doc_id"), col("afp").as("dhash")), maxHamming = 3)
      .select(col("d1"), col("d2"))
    val videoPairs = Multimodal.videoNearDupPairs(
        Multimodal.decodeVideoFrames(Multimodal.attachVideo(docs)),
        maxHamming = 3)
      .select(col("d1"), col("d2"))
    Dedup.dedupClustersLogN(docs, "doc_id",
        textPairs.union(imgPairs).union(audioPairs).union(videoPairs))
      .orderBy(col("doc_id"))
  }

  /** p85's label derivation as a reusable CTE chain (everything up to
    * the `lab` relation) — shared by the p85/p132 label oracles and the
    * cross-modal release draw's chained oracle (p135), the
    * `videoClusterLabelCtes` pattern on the unified label space.
    */
  /** The four-modality pair-relation PREFIX (everything up to `prs`) —
    * split out so the post-retraction oracles can close over a
    * SURVIVOR-restricted copy of the same union relation (restriction
    * commutes at the pair level — every feed is pairwise — but not
    * through the closure, where a family bridged only by a retracted
    * document must split).
    */
  private[operators] val multimodalPairCtes: String =
    s"""${PipelineQueries.rasterDocsCte},
       |${PipelineQueries.rasterDhashCte},
       |${Pipeline8.waveDocsCte},
       |${Pipeline8.waveSampleCte},
       |${Pipeline8.waveFpCtes},
       |tp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM documents a JOIN documents b
       |         ON a.text = b.text AND a.doc_id < b.doc_id),
       |ip AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM dh a JOIN dh b ON a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
       |ap AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.afp, b.afp)) <= 3),
       |${Pipeline10.videoDocsCte},
       |${Pipeline10.videoFhashCte},
       |vp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |       FROM vh a JOIN vh b
       |         ON b.doc_id > a.doc_id AND b.nf = a.nf AND b.f = a.f
       |       GROUP BY a.doc_id, b.doc_id
       |       HAVING max(bit_count(xor(a.fhash, b.fhash))) <= 3),
       |prs AS (SELECT d1, d2 FROM tp UNION
       |        SELECT d1, d2 FROM ip UNION
       |        SELECT d1, d2 FROM ap UNION
       |        SELECT d1, d2 FROM vp)""".stripMargin

  private[operators] val multimodalLabelCtes: String =
    s"""$multimodalPairCtes,
       |e AS (SELECT d1 AS a, d2 AS b FROM prs UNION SELECT d2, d1 FROM prs),
       |r AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e2.b FROM r JOIN e e2 ON r.b = e2.a),
       |comp AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
       |lab AS (
       |  SELECT d.doc_id,
       |         CAST(coalesce(least(c.doc_id, c.mn), d.doc_id) AS BIGINT)
       |           AS canonical
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)""".stripMargin

  val multimodalDedupOracle: String =
    s"""WITH RECURSIVE $multimodalLabelCtes
       |SELECT doc_id, canonical FROM lab ORDER BY doc_id""".stripMargin

  // ---- Eval-set release composition (p83) ----

  /** Per-source cap of the registered eval release. */
  private val EvalCapPerSource = 3

  /** p83: the EVAL-set release recipe as one oracle-checked
    * composition across three operator families — leak-free split
    * (p67: a document's side is the md5 bucket of its near-dup
    * CLUSTER's canonical id, so no duplicate pair straddles
    * train/eval), quality gate (p74's composite), and per-source
    * stratified caps (p23's exact row_number semantics) — yielding a
    * small, clean, leak-free, source-balanced eval set. This is the
    * artifact an evaluation team actually consumes, and the
    * composition is the point: cluster resolution (iterative
    * contraction), map-only gating, and a per-source window all fuse
    * into one declarative plan, hash-checked end to end (the oracle
    * chains the recursive cluster-label CTEs, the quality CTEs and
    * the stratified window).
    *
    * Scale shape: the split rides p20's cluster labels (the one
    * near-dup-pair machinery run); the gate is map-only; the cap is a
    * per-source window over the already-small eval slice. Nothing new
    * shuffles beyond what the ingredients already pay.
    */
  def evalRelease(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = PipelineQueries.ShingleN, numHashes = 16, bands = 4)
    val evalIds = Dedup.leakFreeSplit(docs, "doc_id", pairs, evalPct = 10)
      .filter(col("split") === "eval").select(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    docs.filter(Pipeline8.qualityPass)
      .join(evalIds, Seq("doc_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= EvalCapPerSource)
      .select(col("doc_id"), col("source"), col("rnk").cast("int").as("rnk"))
      .orderBy(col("source"), col("doc_id"))
  }

  val evalReleaseOracle: String =
    s"""WITH ${PipelineQueries.clusterLabelCtes},
       |ev AS (SELECT doc_id FROM lab
       |       WHERE CAST('0x' || substr(md5(CAST(canonical AS VARCHAR)), 1, 7)
       |                  AS BIGINT) % 100 < 10),
       |${Pipeline8.qualityCtes},
       |q AS (SELECT doc_id FROM v
       |      WHERE r_wordcount AND r_wordlen AND r_stopword
       |        AND r_repetition AND r_diversity),
       |el AS (SELECT d.doc_id, d.source
       |       FROM documents d JOIN ev USING (doc_id) JOIN q USING (doc_id)),
       |rk AS (SELECT doc_id, source,
       |              row_number() OVER (PARTITION BY source
       |                                 ORDER BY doc_id) AS rnk
       |       FROM el)
       |SELECT doc_id, source, CAST(rnk AS INTEGER) AS rnk
       |FROM rk WHERE rnk <= $EvalCapPerSource
       |ORDER BY source, doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p80_rm3_expand", rm3Search, Some(rm3Oracle)),
    QuerySpec("p81_shard_append", shardAppend, Some(shardAppendOracle)),
    QuerySpec("p82_drift_report", driftReport, Some(driftOracle)),
    QuerySpec("p83_eval_release", evalRelease, Some(evalReleaseOracle)),
    QuerySpec("p84_maxp_search", maxpSearch, Some(maxpOracle)),
    QuerySpec("p85_multimodal_dedup", multimodalDedup,
      Some(multimodalDedupOracle)),
    QuerySpec("p86_source_scorecard", sourceScorecard,
      Some(sourceScorecardOracle)),
    QuerySpec("p87_lm_decode", lmDecode, Some(lmDecodeOracle)),
    QuerySpec("p88_corpus_diff", corpusDiff, Some(corpusDiffOracle)),
  )
}
