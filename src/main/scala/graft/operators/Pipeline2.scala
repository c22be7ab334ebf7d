package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.QuerySpec

/** Pipeline operators, batch 2: corpus-relative term weighting
  * (TF-IDF) and exact per-stratum sampling — the curation steps that
  * need corpus-global statistics, not just per-row functions.
  */
object Pipeline2 {

  /** TF-IDF top-3 terms per document. The doc-term matrix is one
    * explode+groupBy (shuffle carries (doc,term,tf) triples); document
    * frequency is a second aggregate over the matrix's term column —
    * at scale the term dictionary is orders of magnitude smaller than
    * the corpus, so the df side of the tf⋈df join broadcasts. The
    * top-3 window runs on the weighted matrix partitioned by doc_id
    * (fine-grained key, no skew). Scores are rounded to 6 digits
    * before ranking so cross-engine libm drift in ln() cannot flip an
    * ordering; residual ties break on the term itself.
    */
  def tfIdf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val terms = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3 && col("doc_id") < 100)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfIdfOracle: String =
    """WITH terms AS (
      |  SELECT doc_id, t.term
      |  FROM documents,
      |       unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      |  WHERE len(t.term) > 0),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |  FROM scored)
      |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df, tfidf
      |FROM ranked WHERE rnk <= 3 AND doc_id < 100
      |ORDER BY doc_id, rnk""".stripMargin

  /** Exact stratified sample: 20 documents per (lang, source) stratum,
    * chosen by md5(doc_id) order — deterministic, reproducible, and
    * uniform within each stratum. One shuffle on the stratum key; the
    * rank window scans each stratum once. At extreme stratum skew the
    * same semantics are available through the bounded-heap
    * [[graftext.TopK]] aggregate (q36) which never materializes a
    * stratum's full ordering.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .orderBy(col("lang"), col("source"), col("rn"))
  }

  val stratifiedSampleOracle: String =
    """SELECT doc_id, lang, source, CAST(rn AS INTEGER) AS rn
      |FROM (
      |  SELECT doc_id, lang, source, row_number() OVER (
      |    PARTITION BY lang, source
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 20
      |ORDER BY lang, source, rn""".stripMargin

  /** Bigram collocations by pointwise mutual information: which word
    * pairs co-occur more than chance predicts. Adjacent pairs come
    * from an array-zip inside the row (no positional self-join — the
    * classic Hadoop formulation shuffles every (doc,pos) twice; this
    * shuffles only (w1,w2) pair partials). Unigram counts join back as
    * a broadcast-able dictionary. PMI is emitted floor-quantized to
    * 1e-4 (ln ULP differences between engines sit ~10 orders of
    * magnitude below the quantum).
    */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("l"))
    val uni = toks.select(explode(col("l")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val nTok = uni.agg(sum(col("n_w")).as("n_tok"))
    val pairs = toks
      .select(explode(transform(slice(col("l"), lit(1), size(col("l")) - 1),
        (t, i) => struct(t.as("w1"), get(col("l"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
    val nBig = big.agg(sum(col("n_xy")).as("n_big"))
    big.filter(col("n_xy") >= 5)
      .join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_x")), Seq("w1"))
      .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_y")), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        floor(log(col("n_xy").cast("double") * col("n_tok") * col("n_tok")
          / (col("n_big").cast("double") * col("n_x") * col("n_y"))) * 10000)
          .cast("long").as("pmi_q"))
      .orderBy(col("w1"), col("w2"))
  }

  val collocationsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                     x -> x != '') AS l
      |  FROM documents),
      |uni AS (
      |  SELECT t.w, count(*) AS n_w
      |  FROM toks, unnest(l) AS t(w) GROUP BY 1),
      |n1 AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_tok FROM uni),
      |pairs AS (
      |  SELECT l[i] AS w1, l[i + 1] AS w2
      |  FROM toks, unnest(generate_series(1, len(l) - 1)) AS g(i)),
      |big AS (SELECT w1, w2, count(*) AS n_xy FROM pairs GROUP BY 1, 2),
      |n2 AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_big FROM big)
      |SELECT w1, w2, n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
      |       CAST(floor(ln(CAST(n_xy AS DOUBLE) * n_tok * n_tok
      |              / (CAST(n_big AS DOUBLE) * ux.n_w * uy.n_w)) * 10000) AS BIGINT)
      |         AS pmi_q
      |FROM big
      |JOIN uni ux ON big.w1 = ux.w
      |JOIN uni uy ON big.w2 = uy.w
      |CROSS JOIN n1 CROSS JOIN n2
      |WHERE n_xy >= 5
      |ORDER BY w1, w2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p22_tfidf", tfIdf, Some(tfIdfOracle)),
    QuerySpec("p23_stratified_sample", stratifiedSample,
      Some(stratifiedSampleOracle)),
    QuerySpec("p27_collocations", collocations, Some(collocationsOracle)),
  )
}
