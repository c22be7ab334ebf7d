package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators._
import graft.operators.WordlistSearch.ChunkRange

/** The engine's public facade — every capability in one place.
  *
  * A user of the reference system (`afx07/optimal-bruteforce-hadoop`)
  * interacts with: a wordlist layout, one existence query, and the
  * cluster machinery around it. [[Engine.exists]] is that query;
  * everything else is the extended surface (relational operators live
  * in `SparkEntry.queries`; the data-pipeline operators are exposed
  * here as composable functions over caller DataFrames).
  */
object Engine {

  // ---- reference-parity core (SURVEY.md §2 O1–O6) ----

  /** Q_ref(password): pruned, short-circuiting existence query. */
  def exists(spark: SparkSession, wordlistBase: String,
             ranges: Seq[ChunkRange], password: String): Boolean =
    WordlistSearch.exists(spark, wordlistBase, ranges, password)

  /** All matches with file provenance (the per-chunk verdict as data). */
  def find(spark: SparkSession, wordlistBase: String,
           ranges: Seq[ChunkRange], password: String): DataFrame =
    WordlistSearch.find(spark, wordlistBase, ranges, password)

  // ---- dedup ----

  def dedupExact(docs: DataFrame, id: String, text: String): DataFrame =
    Dedup.exact(docs, id, text)
  def dedupFingerprint(docs: DataFrame, id: String, text: String): DataFrame =
    Dedup.byFingerprint(docs, id, text)
  def nearDupJaccard(docs: DataFrame, id: String, text: String,
                     n: Int = 5, threshold: Double = 0.8): DataFrame =
    Dedup.ngramJaccardPairs(docs, id, text, n, threshold)
  def nearDupMinhash(docs: DataFrame, id: String, text: String): DataFrame =
    Dedup.minhashLshPairs(docs, id, text)
  def nearDupSimhash(docs: DataFrame, id: String, text: String,
                     maxHamming: Int = 3): DataFrame =
    Dedup.simhashPairs(docs, id, text, maxHamming)
  def dedupClusters(docs: DataFrame, id: String, pairs: DataFrame): DataFrame =
    Dedup.dedupClusters(docs, id, pairs)
  /** O(log n)-round cluster resolution — use when near-dup chains can
    * be long (crawl mirrors, boilerplate gradients). */
  def dedupClustersLogN(docs: DataFrame, id: String, pairs: DataFrame): DataFrame =
    Dedup.dedupClustersLogN(docs, id, pairs)
  /** SOFT dedup: per-doc sampling weight `1e6 div |cluster|` ppm over
    * any `(doc_id, canonical)` label table — keep every document,
    * make each cluster carry ~one document-equivalent of epoch mass. */
  def softDedupWeights(lab: DataFrame): DataFrame =
    Pipeline13.softDedupWeightsOf(lab)
  /** Realize a weight table into deterministic per-epoch draws. */
  def softDedupSample(weights: DataFrame, epochs: Int): DataFrame =
    Pipeline13.softDedupSampleOf(weights, epochs)
  /** Per-source effective token yield under a soft-dedup weight table
    * — raw vs down-weighted token mass, the pre-mixing budget table. */
  def tokenYield(docs: DataFrame, weights: DataFrame): DataFrame =
    Pipeline13.tokenYieldOf(docs, weights)
  /** Write the LIVE label store an incremental soft-dedup deployment
    * maintains (p123's layout: doc-bucketed, canonical-sorted). */
  def labelStoreWrite(labels: DataFrame, path: String): Unit =
    graft.operators.LabelStore.write(labels, path)
  /** Fold one ingested batch's near-dup evidence into the live label
    * store — one union-find step on the affected components only. */
  def labelStoreUpdate(spark: SparkSession, path: String,
                       batchIds: DataFrame, pairs: DataFrame): Unit =
    graft.operators.LabelStore.update(spark, path, batchIds, pairs)
  /** Heal a label store whose update crashed mid-overwrite: replays
    * the durably staged buckets (or drops an uncommitted stage).
    * Returns false when there was nothing to repair. */
  def labelStoreRecover(spark: SparkSession, path: String): Boolean =
    graft.operators.LabelStore.recover(spark, path)
  /** p118's sampling weights refreshed from the label store alone —
    * no corpus rescan between releases. */
  def softDedupWeightsFromStore(spark: SparkSession, path: String): DataFrame =
    graft.operators.LabelStore.weightsFromStore(spark, path)
  /** Lloyd-trained IVF centroids FROZEN to the integer-micro grid —
    * bit-stable across partitionings, so the trained quantizer can
    * reach the store/probe path (p124's device). */
  def trainIvfFrozen(corpus: DataFrame, nCells: Int,
                     rounds: Int): Array[(Int, Seq[Float])] =
    operators.Similarity.trainIvfCentroidsFrozen(corpus, nCells, rounds)
  /** Persist a corpus's MinHash band signatures as the at-rest LSH
    * store (p111's layout: partitioned by band, sig_h-sorted). */
  def lshStoreWrite(docs: DataFrame, id: String, text: String,
                    path: String): Unit =
    Dedup.lshStoreWrite(Dedup.lshSignatureRows(docs, id, text), path)
  /** Probe a [[lshStoreWrite]] store with literal (qid, band, sig_h)
    * rows (p111): stored documents sharing any band signature. */
  def lshProbeStored(spark: SparkSession, path: String,
                     querySigs: Seq[(Long, Int, Long)]): DataFrame =
    Dedup.lshProbeStored(spark, path, querySigs)

  /** The READER-vs-SWAP contract for every stored-probe facade here
    * (`lshProbeStored`, `searchLexicalIndex`, `searchVectorIndex`,
    * `frameProbeStored`, … — anything reading an at-rest store):
    *
    *  - reads issued from the ONE maintenance scheduler that also runs
    *    the store mutations (the registered Verify/Bench paths, and any
    *    deployment that serializes probes with maintenance) never race
    *    a swap and need no wrapping — this is the default and the
    *    common case, and it costs nothing;
    *  - a reader running CONCURRENTLY with maintenance must wrap its
    *    ENTIRE read — facade call through the terminal action — in
    *    this retry: the facades return lazy frames, so a racing swap
    *    can surface either at analysis (path/table resolution) or at
    *    execution (file-level not-found mid-scan), and only a wrap
    *    around the action covers both. Wrapping construction alone
    *    inside each facade would protect half the window and mislead.
    *
    * Retries ONLY the three swap-transient classes (path/table
    * NOT-FOUND, file-level not-found, the label store's typed
    * torn-read refusal) with bounded backoff; permanent errors
    * propagate immediately. SwapRaceSpec races probes under this wrap
    * against repeated swaps on all three swap devices and asserts
    * every read is exact; ContractSpec pins the facade's routing.
    */
  def withSwapRetry[T](attempts: Int = 8, backoffMs: Long = 50)(
      body: => T): T =
    graft.sources.Maintenance.retryOnSwap(attempts, backoffMs)(body)
  /** Persist the per-doc shingle-hash sets as the verification SIDECAR
    * beside the LSH store (p117's layout: doc_id-bucketed, sorted). */
  def shingleSidecarWrite(docs: DataFrame, id: String, text: String,
                          path: String, n: Int = 5): Unit =
    Dedup.shingleStoreWrite(Dedup.shingleSidecarRows(docs, id, text, n), path)
  /** Exact-Jaccard verify of stored-probe candidates against a
    * [[shingleSidecarWrite]] sidecar (p117) — candidates → sidecar
    * join → Jaccard ≥ τ, reading only the candidate buckets. */
  def lshVerifyStored(spark: SparkSession, sidecarPath: String,
                      candidates: DataFrame, queryShingles: DataFrame,
                      tau: Double): DataFrame =
    Dedup.lshVerifyStored(spark, sidecarPath, candidates, queryShingles, tau)
  /** LSH banding-quality report: recall and candidate hit-rate of the
    * MinHash-LSH stage against exact Jaccard truth, per threshold —
    * run on a sample when the corpus is large. See Pipeline12 p108. */
  def lshQualityReport(docs: DataFrame,
                       thresholds: Seq[Double] = Seq(0.2, 0.3, 0.5, 0.8),
                       n: Int = 5, numHashes: Int = 16,
                       bands: Int = 4): DataFrame =
    operators.Pipeline12.lshQualityOf(docs, thresholds, n, numHashes, bands)
  /** MinHash estimator-error report over the LSH candidate pairs (the
    * sketch-quality dial; p108 is the banding dial). See p109. */
  def minhashEstimateReport(docs: DataFrame, n: Int = 5,
                            numHashes: Int = 16, bands: Int = 4): DataFrame =
    operators.Pipeline12.minhashEstimateOf(docs, n, numHashes, bands)

  /** Id pairs whose key strings are within ONE edit — deletion-
    * neighborhood (FastSS) blocking, exact Levenshtein verify; the
    * typo-radius dedup for short structured keys (titles, URLs, ids).
    */
  def fuzzyNearDups(df: DataFrame, id: String, key: String): DataFrame =
    Dedup.fuzzyKeyPairs(df, id, key)

  /** Corpus-wide duplicated-span extraction over (doc_id, text) —
    * maximal token intervals whose 10-token windows repeat anywhere in
    * the corpus. The default hashes windows with xxhash64 (8-byte
    * shuffle rows — the at-scale choice); pass `oracleHash = true` for
    * the md5 form the DuckDB oracle replays (identical output absent
    * 64-bit window-hash collisions).
    */
  def duplicatedSpans(docs: DataFrame, oracleHash: Boolean = false): DataFrame =
    if (oracleHash) Pipeline5.dupSpansOf(docs) else Pipeline5.dupSpansOfXx(docs)

  /** Incremental corpus refresh: rows of `incoming` whose exact text
    * fingerprint is absent from `base`, deduplicated within the batch
    * (lowest id wins). The anti-join shape of Pipeline5
    * .incrementalDedup, parameterized over arbitrary frames.
    *
    * Pass `baseFpCol` to name a PRECOMPUTED md5(text) fingerprint
    * column on `base` — a base stored bucketed by that column
    * (sources.Bucketed) then keeps its layout visible to the planner
    * and the whole refresh shuffles ONLY the incoming batch
    * (BucketingSpec proves it). The opt-in is explicit because the
    * column's format cannot be validated cheaply: a non-md5(text)
    * column here silently re-admits duplicates. At 100 TB this is the
    * difference between re-shuffling the corpus per refresh and a
    * map-side admit. `incoming` must not already use column names
    * `fp`/`rn` (they are scratch here and dropped).
    */
  def admitNew(base: DataFrame, incoming: DataFrame,
               id: String, text: String,
               baseFpCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val baseFps = baseFpCol
      .map(c => base.select(col(c).as("fp")))
      .getOrElse(base.select(md5(col(text)).as("fp")))
      .distinct()
    val w = Window.partitionBy(col("fp")).orderBy(col(id))
    incoming.withColumn("fp", md5(col(text)))
      .join(baseFps, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "fp")
  }

  /** Global row_number over (shardCol, tieCols...) with no global
    * sort — TwoLevel's parallel two-level scheme. shardCol must be
    * non-negative integral.
    */
  def globalRank(df: DataFrame, shardCol: String, tieCols: Seq[String],
                 outCol: String): DataFrame =
    operators.TwoLevel.withGlobalRank(df, shardCol, tieCols, outCol)

  /** Global running sum of `valueCol` over (shardCol, tieCols...) with
    * no global sort — TwoLevel's parallel two-level scheme.
    */
  def globalCumsum(df: DataFrame, shardCol: String, tieCols: Seq[String],
                   valueCol: String, outCol: String): DataFrame =
    operators.TwoLevel.withGlobalCumsum(df, shardCol, tieCols, valueCol, outCol)

  /** Generic as-of join: for every left row, the LATEST right row of
    * the same key with right ts <= left ts, as a nullable `asof`
    * struct (left-outer semantics — no match leaves it null). The
    * union + last(ignoreNulls) running-window shape of q32: ONE hash
    * shuffle on the key and a per-key merge-scan — never the
    * nested-loop a raw inequality join would plan, which is the
    * difference between feasible and not at event-log scale. Ties
    * (equal timestamps) match, like `ON l.ts >= r.ts`; among several
    * right rows sharing (key, ts) the winner is chosen by payload
    * hash — arbitrary but DETERMINISTIC across runs and cluster
    * layouts, per the engine-wide reproducibility contract.
    * Reserved scratch names: inputs must not use `__ts`/`__l`/`__r`/
    * `__is_r`/`__m`, and lhs must not already have an `asof` column.
    */
  def asofJoin(lhs: DataFrame, rhs: DataFrame,
               key: String, ts: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    val lType = StructType(lhs.schema.fields)
    val rType = StructType(rhs.schema.fields.filterNot(_.name == key))
    val lSide = lhs.select(col(key), col(ts).as("__ts"),
      struct(lhs.columns.toIndexedSeq.map(col): _*).as("__l"),
      lit(null).cast(rType).as("__r"), lit(0).as("__is_r"))
    val rSide = rhs.select(col(key), col(ts).as("__ts"),
      lit(null).cast(lType).as("__l"),
      struct(rhs.columns.toIndexedSeq.filterNot(_ == key).map(col): _*).as("__r"),
      lit(1).as("__is_r"))
    // right rows sort before left at equal ts so ties are visible; the
    // payload-hash key makes the pick among equal-(key, ts) right rows
    // stable run to run
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__is_r").desc, xxhash64(col("__r")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("__m", last(when(col("__is_r") === 1, col("__r")),
        ignoreNulls = true).over(w))
      .filter(col("__is_r") === 0)
      .select(col("__l.*"), col("__m").as("asof"))
  }

  /** Bloom prefilter: drop fact rows whose join key CANNOT be in
    * `keys` before the join shuffle — the hash-shaped complement of
    * q53's min/max envelope (which needs clustered keys; a bloom works
    * for any key distribution). No false negatives, so
    * prefilter-then-join equals the plain join exactly; false
    * positives only cost pass-through rows the join drops anyway.
    *
    * Build is distributed: k bit positions per key, bit_or-aggregated
    * into 64-bit words (one shuffle of |keys|·k longs, output
    * bits/64 rows). The word table is then embedded as a LITERAL
    * array in the probe predicate, so the fact side filters map-side
    * inside whole-stage codegen — no join, no broadcast variable. At
    * a billion distinct keys, size `bits` accordingly (or probe via a
    * broadcast join on word index instead of a literal).
    *
    * NOTE: unlike the other (lazy) facade methods, this one runs the
    * keys-side build — a Spark job ending in a driver collect — at
    * CALL time, because the word table must exist before the probe
    * predicate can be constructed. Plan-only tooling over a query
    * using it will trigger that job.
    */
  def bloomPrefilter(fact: DataFrame, factKey: String,
                     keys: DataFrame, keyCol: String,
                     bits: Int = 1 << 20, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bits % 64 == 0 && bits > 0, "bits must be a positive multiple of 64")
    val posOf = (c: org.apache.spark.sql.Column, i: Int) =>
      pmod(xxhash64(lit(i), c), lit(bits.toLong))
    val words = keys.select(
        explode(array((0 until k).map(i => posOf(col(keyCol), i)): _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("idx"),
              call_function("shiftleft", lit(1L),
                (col("pos") % 64).cast("int")).as("bit"))
      .groupBy(col("idx")).agg(bit_or(col("bit")).as("word"))
      .collect().foldLeft(new Array[Long](bits / 64)) { (arr, r) =>
        arr(r.getInt(0)) = r.getLong(1); arr
      }
    val bloom = lit(words)
    val mightContain = (0 until k).map { i =>
      val pos = posOf(col(factKey), i)
      element_at(bloom, (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          (pos % 64).cast("int"))) =!= 0L
    }.reduce(_ && _)
    fact.filter(mightContain)
  }

  /** Lazy variant of [[bloomPrefilter]]: the word table stays a
    * DataFrame and each of the k bit probes is a map-side broadcast
    * hash join on the word index — no driver collect, no job at
    * construction time. The KEY table may be arbitrarily large (it is
    * folded into the bitmap by a distributed aggregate, never
    * materialized); what is broadcast is the folded bitmap itself —
    * `bits/64` rows ≈ bits/8 bytes — so `bits` is bounded by Spark's
    * ~8 GB broadcast-relation limit (~2^36 bits), not arbitrary.
    * Identical
    * filtering semantics to the literal-array variant (same hashes,
    * same bits — PropertySpec pins the equivalence); trade-off is k
    * broadcast joins in the plan instead of one codegen'd predicate.
    */
  def bloomPrefilterLazy(fact: DataFrame, factKey: String,
                         keys: DataFrame, keyCol: String,
                         bits: Int = 1 << 20, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bits % 64 == 0 && bits > 0, "bits must be a positive multiple of 64")
    val posOf = (c: org.apache.spark.sql.Column, i: Int) =>
      pmod(xxhash64(lit(i), c), lit(bits.toLong))
    val words = keys.select(
        explode(array((0 until k).map(i => posOf(col(keyCol), i)): _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("__widx"),
              call_function("shiftleft", lit(1L),
                (col("pos") % 64).cast("int")).as("bit"))
      .groupBy(col("__widx")).agg(bit_or(col("bit")).as("__word"))
    (0 until k).foldLeft(fact) { (df, i) =>
      val pos = posOf(col(factKey), i)
      df.withColumn("__p", pos)
        .join(broadcast(words), (col("__p") / 64).cast("int") === col("__widx"))
        .filter(col("__word")
          .bitwiseAND(call_function("shiftleft", lit(1L),
            (col("__p") % 64).cast("int"))) =!= 0L)
        .drop("__p", "__widx", "__word")
    }
  }

  /** Generic lookback range join: every (lhs, rhs) pair of the same
    * key with rhs ts strictly inside (lhs ts - lookback, lhs ts). The
    * interval predicate is turned into an equi-join on (key, bucket)
    * with bucket width = the lookback (each lhs row probes its own and
    * the previous bucket — an interval never spans more), and the
    * precise filter runs post-join; q33's shape, generalized. Shuffle
    * is O(|lhs|·2 + |rhs|), never the nested loop a raw inequality
    * join plans. rhs payload arrives as a `matched` struct. Reserved
    * scratch names: inputs must not use `__b`/`__rts`/`matched`.
    */
  def rangeJoin(lhs: DataFrame, rhs: DataFrame, key: String,
                lhsTs: String, rhsTs: String, lookbackSec: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(lookbackSec > 0, "lookbackSec must be positive")
    val bkt = (c: org.apache.spark.sql.Column) =>
      floor(unix_timestamp(c) / lookbackSec)
    val r = rhs.select(col(key),
      struct(rhs.columns.toIndexedSeq.filterNot(_ == key).map(col): _*).as("matched"),
      bkt(col(rhsTs)).as("__b"), col(rhsTs).as("__rts"))
    lhs.withColumn("__b",
        explode(array(bkt(col(lhsTs)) - 1, bkt(col(lhsTs)))))
      .join(r, Seq(key, "__b"))
      .filter(col("__rts") > col(lhsTs) - expr(s"INTERVAL $lookbackSec SECONDS") &&
              col("__rts") < col(lhsTs))
      .drop("__b", "__rts")
  }

  /** Batched multi-needle substring search over any text column — N
    * probes share one corpus scan (broadcast needles); the generalized
    * form of the reference's one-password existence query.
    */
  def searchAll(corpus: DataFrame, textCol: String,
                needles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = corpus.sparkSession
    import s.implicits._
    corpus.join(broadcast(needles.toDF("needle")),
                col(textCol).contains(col("needle")))
  }

  // ---- similarity search ----

  def topKExact(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(corpus, queries, k)
  /** @param maxBucket LSH bucket-width cap (see
    *   [[graft.operators.Similarity.signLshTopK]]) — set it at corpus
    *   scale; degenerate buckets are quadratic in pair emission. */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
              maxBucket: Int = Int.MaxValue): DataFrame =
    Similarity.signLshTopK(corpus, queries, k, maxBucket = maxBucket)
  def topKIvf(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Similarity.ivfTopK(corpus, queries, k)
  def embeddingNearDups(corpus: DataFrame, threshold: Double,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    Similarity.nearDupPairs(corpus, threshold, maxBucket = maxBucket)

  // ---- text analysis (Column functions, composable in any select) ----

  val text: graft.functions.TextAnalysis.type = graft.functions.TextAnalysis
  val vectors: graft.functions.VectorOps.type = graft.functions.VectorOps

  // ---- multimodal ----

  def attachBinary(docs: DataFrame): DataFrame = Multimodal.attachBinary(docs)
  def inspectBinary(withBin: DataFrame): DataFrame = Multimodal.inspect(withBin)
  def frameSample(withBin: DataFrame, stride: Int, maxFrames: Int): DataFrame =
    Multimodal.frameSample(withBin, stride, maxFrames)

  /** Real image decode: parse self-describing P6 raster payloads
    * (header + packed RGB) into exact integer stats + the 60-bit dHash
    * perceptual signature. [[attachRaster]] is the deterministic
    * fixture "camera" for corpora without real image bytes.
    */
  def attachRaster(docs: DataFrame): DataFrame = Multimodal.attachRaster(docs)
  def decodeRaster(withRaster: DataFrame): DataFrame =
    Multimodal.decodeRaster(withRaster)

  /** Near-duplicate images (dHash Hamming ≤ maxHamming) — banded LSH
    * blocking + exact verification; lossless for maxHamming ≤ 3.
    */
  def perceptualNearDups(withRaster: DataFrame, maxHamming: Int = 3): DataFrame =
    Multimodal.perceptualNearDupPairs(
      Multimodal.decodeRaster(withRaster)
        .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("dhash")),
      maxHamming)

  /** Canonical labels for perceptual image duplicates: the pair graph
    * above resolved with the O(log n) contraction — decode → dHash →
    * pairs → components, the image twin of the text dedup pipeline.
    */
  def perceptualClusters(withRaster: DataFrame, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    val decoded = Multimodal.decodeRaster(withRaster)
    Dedup.dedupClustersLogN(decoded, "doc_id",
      Multimodal.perceptualNearDupPairs(
        decoded.select(col("doc_id"), col("dhash")), maxHamming))
  }

  // ---- streaming ----

  val streams: graft.streaming.StreamingOps.type = graft.streaming.StreamingOps

  // ---- custom aggregates / expressions ----

  def topkAgg(c: Column, k: Int): Column =
    org.apache.spark.sql.graftext.TopK.topk(c, k)

  /** SpaceSaving approximate heavy hitters — capacity-bounded buffer
    * BEFORE the shuffle; returns array<struct<term,cnt,err>> where cnt
    * overestimates the true count by at most err.
    */
  def heavyHittersAgg(c: Column, capacity: Int): Column =
    org.apache.spark.sql.graftext.HeavyHitters.heavyHitters(c, capacity)
  def vecDot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b)

  /** Register the SQL functions (vec_dot, ...) on a caller-owned
    * session built without `spark.sql.extensions=graft.GraftExtensions`.
    */
  def registerSql(spark: SparkSession): Unit =
    org.apache.spark.sql.graftext.ColumnBridge.registerFunctions(spark)

  // ---- composed curation pipeline ----

  /** The end-to-end curation DAG a training-data team runs, composed
    * from this library's operators in the canonical order:
    *
    *   1. dedup — keep the longest doc per canonical fingerprint;
    *   2. redact — PII-pattern scrub of the surviving text;
    *   3. language filter — stopword-evidence language ID;
    *   4. quality gate — composite quality score threshold;
    *   5. budget pack — best-quality-first greedy fill of a token
    *      budget (cumulative-sum window over the quality ordering).
    *
    * Shuffle ledger at scale: one hash shuffle on the fingerprint (1),
    * map-only stages for (2)–(4), one hash shuffle on the quality-shard
    * key for (5) — the cheapest order: every map-only filter runs
    * BEFORE the cumulative stage, so it sees only survivors. The
    * global cumulative sum is two-level: a deterministic shard key
    * monotone in the quality ordering, per-shard window cumsums that
    * run in parallel, and a shard-count-sized offset table broadcast
    * back — no single-partition global window anywhere.
    * Returns the curated corpus with per-doc provenance columns.
    */
  def curate(docs: DataFrame, lang: String = "en",
             minQuality: Double = 0.0, tokenBudget: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ta = graft.functions.TextAnalysis
    val byFp = Window.partitionBy(col("fp"))
    val deduped = docs
      .withColumn("fp", ta.fingerprint(col("text")))
      .withColumn("rn", row_number().over(
        byFp.orderBy(length(col("text")).desc, col("doc_id"))))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .filter(col("rn") === 1).drop("rn")
    val scrubbed = deduped.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"), "[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        "[0-9]{6,}", "<NUM>"))
    val gated = scrubbed
      .withColumn("lang_guess", ta.langGuessOf(col("text")))
      .filter(col("lang_guess") === lang)
      .withColumn("quality", ta.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
      .withColumn("n_tokens", ta.wsTokenCount(col("text")).cast("long"))
    // Two-level global cumsum over (quality desc, doc_id), delegated to
    // operators.TwoLevel's expert form. Contract discharge: the shard
    // key floor(quality*96) (clamped to [-96, 95]) is integral,
    // non-null, <= 192 distinct values, monotone NON-INCREASING along
    // the quality-descending order (higher quality -> higher shard id,
    // so descending = true), and equal qualities always quantize to the
    // same shard — ties never straddle shards.
    val shards = 96
    val shardKey = least(
        greatest(floor(col("quality") * shards), lit(-shards.toLong)),
        lit(shards.toLong - 1)).cast("int")
    graft.operators.TwoLevel.withGlobalCumsumBy(gated, shardKey,
        order = Seq(col("quality").desc, col("doc_id")),
        value = col("n_tokens"), outCol = "cum_tokens", descending = true)
      .filter(col("cum_tokens") <= tokenBudget)
  }

  /** End-to-end CLIP curation — the video twin of [[curate]], composed
    * from the p89–p93 devices in retention order:
    *   1. exact-signature dedup — one clip per ordered frame-hash
    *      sequence (lowest doc_id survives), the cheap gate that
    *      removes the bulk of real-corpus duplication before anything
    *      quadratic-ish runs;
    *   2. temporal near-dedup — p90 aligned-frame pairs AMONG THE
    *      SURVIVORS through the O(log n) contraction, keep each
    *      cluster's minimum id;
    *   3. keyframe extraction — scene cuts (p92's mid-gap threshold)
    *      over the retained clips, emitting `(doc_id, frame, scene,
    *      fhash)`: one representative frame per scene, WITH its
    *      perceptual hash so the output feeds the image pipeline
    *      (p59 dedup, captioning, embedding) directly.
    *
    * Scale shape: the payloads are decoded ONCE and never cached,
    * shuffled, or re-walked — all three stages run over the pinned
    * (doc, frame, 8-byte hash) signature table. Stage 1 is one
    * clip-keyed aggregate + one sequence-keyed window, stage 2 banded
    * pairs + contraction, stage 3 one clip-keyed window.
    */
  def curateClips(withVideo: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val mm = operators.Multimodal
    // ONE decode pass; everything downstream runs on (doc, frame,
    // 8-byte hash) rows. The blobs are read exactly once and never
    // cached, shuffled, or re-walked — the only thing localCheckpoint
    // pins is the signature table, which is what lets three stages
    // consume it without re-decoding.
    val frames = mm.decodeVideoFrames(withVideo)
      .select(col("doc_id"), col("frame"), col("n_frames"), col("fhash"))
      .localCheckpoint()
    // stage 1: exact-signature dedup — THE shared family labeling
    // (Multimodal.exactClipFamilies, also behind p91), lowest id wins
    val exact = mm.exactClipFamilies(frames)
      .filter(col("rep") === col("doc_id"))
      .select(col("doc_id"))
    val survFrames = frames.join(exact, Seq("doc_id")).localCheckpoint()
    // stage 2: temporal near-dedup among survivors
    val clusters = operators.Dedup.dedupClustersLogN(
      survFrames.select(col("doc_id")).distinct(), "doc_id",
      mm.videoNearDupPairs(survFrames, maxHamming = 3)
        .select(col("d1"), col("d2")))
    val kept = clusters.filter(col("doc_id") === col("canonical"))
      .select(col("doc_id"))
    // stage 3: keyframes of the retained clips, at THE measured p92
    // threshold (referenced, not re-typed — a CutTau retune reaches
    // this path at compile time)
    operators.Pipeline10.keyframesOf(survFrames.join(kept, Seq("doc_id")),
      tau = operators.Pipeline10.CutTau)
  }

  // ---- SQL front door ----

  /** Register every test-data table of `dir` as a temp view (plus the
    * graft SQL functions), making the whole engine reachable from SQL
    * strings. Views are lazy — nothing is scanned until queried.
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    registerSql(spark)
    Tables.loaders.foreach { case (n, load) =>
      load(spark, dir).createOrReplaceTempView(n)
    }
  }

  /** One-call SQL entry point over the registered tables. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(query)
  }

  // ---- retrieval facade (the search stack over a curated corpus) ----

  /** Okapi BM25 top-k of `docs` (doc_id, text) against an arbitrary
    * term set — the generic form of p45; see `Pipeline6.bm25Scores`
    * for the scale shape (only query-term occurrences shuffle, stats
    * and df broadcast, bounded-heap top-k).
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    Pipeline6.bm25TopKOf(docs, terms, k)

  /** Build the at-rest lexical index (posting lists bucketed by term +
    * corpus-stats table) and query it — the amortized form of
    * [[bm25Search]]: the build pays the tokenize + term shuffle once,
    * each query reads only its terms' buckets.
    */
  def buildLexicalIndex(docs: DataFrame, table: String, nBuckets: Int): Unit =
    Pipeline6.postingsWrite(docs, table, nBuckets)

  def searchLexicalIndex(spark: SparkSession, table: String,
                         terms: Seq[String], k: Int): DataFrame =
    Pipeline6.bm25TopKStored(spark, table, k, terms)

  /** Exact phrase-match top-k (consecutive tokens, all-integer
    * position-adjacency test) — scan-time over any (doc_id, text)
    * frame, or from the positional posting lists of a
    * [[buildLexicalIndex]] store (reads only the phrase terms'
    * buckets).
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame =
    Pipeline6.phraseTopKOf(docs, phrase, k)

  def phraseSearchStored(spark: SparkSession, table: String,
                         phrase: Seq[String], k: Int): DataFrame =
    Pipeline6.phraseTopKStored(spark, table, phrase, k)

  /** Proximity top-k: documents ranked by how many position pairs of
    * the two terms fall within `window` tokens — phrase matching's
    * unordered, slop-tolerant sibling, over the same positional
    * postings (stored path reads only the two terms' buckets).
    */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
                      window: Int, k: Int): DataFrame =
    Pipeline6.proximityTopKOf(docs, termA, termB, window, k)

  def proximitySearchStored(spark: SparkSession, table: String,
                            termA: String, termB: String,
                            window: Int, k: Int): DataFrame =
    Pipeline6.proximityTopKStored(spark, table, termA, termB, window, k)

  /** Build the at-rest compressed vector index (IVF-PQ: cell-partitioned
    * directories of PQ codes) from a corpus of (vec_id, embedding) rows.
    * Returns the two models — IVF centroids and PQ codebooks — that
    * define the layout; keep them with the index (every probe and every
    * append needs exactly these).
    *
    * @param pqTrainIters Lloyd budget for per-subspace k-means codebook
    *   training (`Pipeline6.trainPqCodebook`); 0 keeps the
    *   deterministic coreset seed. Production indexes should train —
    *   the quantization error is strictly lower (the Lloyd guarantee)
    *   and RecallAudit measures the recall gain.
    */
  def buildVectorIndex(corpus: DataFrame, path: String,
                       nCells: Int = 8, nCodes: Int = 8,
                       m: Int = 4,
                       pqTrainIters: Int = 0): (Array[(Int, Seq[Float])], Array[(Int, Seq[Seq[Float]])]) = {
    val cents = Similarity.seedCentroids(corpus, nCells)
    val cb =
      if (pqTrainIters > 0) Pipeline6.trainPqCodebook(corpus, nCodes, m, pqTrainIters)
      else Pipeline6.pqCodebook(corpus, nCodes, m)
    Pipeline6.ivfPqWrite(cents, cb, corpus, path)
    (cents, cb)
  }

  /** ADC top-k over a [[buildVectorIndex]] store: reads nProbe cells'
    * code files, never the raw embeddings.
    *
    * @param excludeSelf when queries are drawn FROM the indexed corpus
    *   (the default contract), a query's own vector is dropped from its
    *   candidates. Pass false for EXTERNAL queries whose ids share no
    *   space with the corpus — otherwise an accidental qid/vec_id
    *   collision silently drops a legitimate corpus candidate.
    */
  def searchVectorIndex(spark: SparkSession, path: String, queries: DataFrame,
                        cents: Array[(Int, Seq[Float])],
                        cb: Array[(Int, Seq[Seq[Float]])],
                        k: Int, nProbe: Int = 2,
                        excludeSelf: Boolean = true): DataFrame =
    Pipeline6.ivfPqTopKStored(spark, path, queries, cents, cb, k, nProbe,
      excludeSelf)

  /** Diversified top-k off the at-rest indexes: ADC shortlist (codes
    * store) → exact relevance (embedding store, probed cells +
    * shortlisted ids only) → MMR greedy selection (`lam` trades
    * relevance against redundancy; 1.0 is plain refine ranking).
    * Same index bytes per query as [[searchVectorIndex]] + refine;
    * the diversity stage itself is corpus-independent.
    */
  def diverseSearchVectorIndex(spark: SparkSession, codesPath: String,
                               embPath: String, queries: DataFrame,
                               cents: Array[(Int, Seq[Float])],
                               cb: Array[(Int, Seq[Seq[Float]])],
                               k: Int, r: Int = 30, nProbe: Int = 2,
                               lam: Double = 0.7,
                               excludeSelf: Boolean = true): DataFrame =
    Pipeline6.ivfPqDiverseTopK(spark, codesPath, embPath, queries, cents, cb,
      k, r, nProbe, lam, excludeSelf)

  /** Hybrid retrieval ENTIRELY off the at-rest indexes — no corpus
    * scan anywhere: the lexical arm reads the query terms' posting
    * buckets ([[searchLexicalIndex]]), the vector arm reads the probed
    * cells' code files ([[searchVectorIndex]] with a 1-row query
    * frame), and the two depth-truncated rank lists fuse by reciprocal
    * rank (the p46 fusion arithmetic, shared). This is the serving
    * path of a deployed search stack: index bytes read per query are
    * (terms' buckets + nProbe cells' codes), independent of corpus
    * size.
    */
  /** @param excludeSelf see [[searchVectorIndex]] — pass false when
    *   `queryVec`'s id is not a corpus vec_id.
    */
  def hybridSearchStored(spark: SparkSession, lexTable: String,
                         terms: Seq[String], vecPath: String,
                         queryVec: DataFrame,
                         cents: Array[(Int, Seq[Float])],
                         cb: Array[(Int, Seq[Seq[Float]])],
                         k: Int, depth: Int = 100,
                         nProbe: Int = 2,
                         excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lex = Pipeline6.bm25TopKStored(spark, lexTable, depth, terms)
      .select(col("doc_id").as("id"), col("rnk").as("lex_rnk"))
    val vec = Pipeline6.ivfPqTopKStored(spark, vecPath, queryVec,
        cents, cb, depth, nProbe, excludeSelf)
      .select(col("cid").as("id"), col("rnk").as("vec_rnk"))
    Pipeline6.rrfFuse(lex, vec, k)
  }

  // ---- tokenizer + corpus-quality-model facade ----

  /** Learn the first k BPE merge rules from a corpus (p69) — the
    * train half of the tokenizer: all rounds run on the vocab-sized
    * distinct-words table.
    */
  def trainBpe(docs: DataFrame, k: Int): DataFrame =
    operators.Pipeline5.bpeMerges(docs, k)

  /** Apply an ordered BPE merge table to every document (p70) —
    * map-only, the rules ship inside the plan; pair with
    * [[trainBpe]]'s collected output or any published merge list.
    */
  def bpeTokenize(docs: DataFrame, rules: Seq[(String, String)]): DataFrame =
    operators.Pipeline7.bpeEncode(docs, rules)

  /** Train the add-α bigram LM of [[scorePerplexity]] (p71):
    * (w1, w2, c12, c1) over the vocab²-bounded bigram table.
    */
  def trainLm(docs: DataFrame): DataFrame =
    operators.Pipeline7.lmTrain(docs)

  /** Per-document cross-entropy under a [[trainLm]] model — the
    * perplexity quality filter, with the held-out smoothing fallback
    * for unseen bigrams and contexts.
    */
  def scorePerplexity(docs: DataFrame, model: DataFrame, vocabV: Long): DataFrame =
    operators.Pipeline7.perplexityScore(docs, model, vocabV)

  /** DSIR importance weight of every document against a target-domain
    * predicate (p72): B-bounded hashed-feature ratio model, broadcast
    * scoring, per-token-averaged log-ratio.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column): DataFrame =
    operators.Pipeline7.dsirWeightsOf(docs, isTarget)

  /** SemDeDup (p73): per-vector keep/drop by lower-id witness within
    * IVF cells at cosine ≥ tau; feed τ-pairs to p20 when full
    * ε-component resolution is wanted.
    */
  def semDedup(emb: DataFrame, cents: Array[(Int, Seq[Float])],
               tau: Double): DataFrame =
    operators.Pipeline7.semDedupOf(emb, cents, tau)

  /** Stored embedding near-dup probe (p115): every published vector
    * within cosine τ of a query, from an at-rest
    * [[buildVectorIndex]]/`Similarity.ivfWrite` cell layout — the
    * incremental form of [[semDedup]] (probe per arriving batch
    * instead of re-clustering the corpus). Streaming twin:
    * `StreamingOps.embeddingDedupGateBatch`.
    */
  def semDedupStoredProbe(spark: SparkSession, path: String,
                          queries: DataFrame,
                          cents: Array[(Int, Seq[Float])], tau: Double,
                          nProbe: Int = 2): DataFrame =
    operators.Similarity.ivfProbeNearDup(spark, path, queries, cents, tau,
      nProbe)

  /** RM3-style pseudo-relevance-feedback search (p80): seed query →
    * feedback top docs → heaviest non-seed terms expand the query →
    * re-rank, under the all-integer quantized-idf model. The recall
    * lever for vocabulary mismatch; compose with [[bm25Search]] or the
    * stored index for the serving-grade final ranking.
    */
  def prfSearch(docs: DataFrame, seed: Seq[String], fbDocs: Int = 10,
                expTerms: Int = 5, k: Int = 10): DataFrame =
    operators.Pipeline9.rm3SearchOf(docs, seed, fbDocs, expTerms, k)

  /** Token-distribution drift report between a base corpus and an
    * ingestion increment (p82): top-N hashed-token buckets by squared
    * integer-ppm rate difference. The batch face of
    * `StreamingOps.driftGateBatch`.
    */
  def driftReport(base: DataFrame, inc: DataFrame, topN: Int = 20): DataFrame =
    operators.Pipeline9.driftReportOf(base, inc, topN)

  /** Embedding drift report (p112): base vs increment per-IVF-cell
    * assignment rates in exact integer ppm under a frozen centroid
    * model — the vector twin of [[driftReport]]. */
  def embeddingDriftReport(base: DataFrame, inc: DataFrame,
                           cents: Array[(Int, Seq[Float])]): DataFrame =
    operators.Pipeline12.embeddingDriftOf(base, inc, cents)

  /** Attach the fixture WAV payload (p78's "microphone"); production
    * replaces this with reading real audio files into `payload`.
    */
  def attachWave(docs: DataFrame): DataFrame =
    operators.Multimodal.attachWave(docs)

  /** REAL RIFF/PCM decode → exact integer waveform stats + the 60-bit
    * four-profile fingerprint (p78). Decode at the codec boundary;
    * shuffle features, never blobs.
    */
  def decodeWave(withWave: DataFrame): DataFrame =
    operators.Multimodal.decodeWave(withWave)

  /** Near-duplicate audio pairs at Hamming ≤ maxHamming on the
    * [[decodeWave]] fingerprint (p79) — the image dHash banding reused
    * on the audio profile.
    */
  def audioNearDups(withWave: DataFrame, maxHamming: Int = 3): DataFrame =
    operators.Multimodal.perceptualNearDupPairs(
      operators.Multimodal.decodeWave(withWave)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("afp").as("dhash")), maxHamming)

  /** Attach the fixture raw-PPM-stream clip payload (p89's "camera
    * roll"); production replaces this with reading real video files.
    */
  def attachVideo(docs: DataFrame): DataFrame =
    operators.Multimodal.attachVideo(docs)

  /** REAL frame walk of a raw PPM stream → one row per frame with its
    * perceptual dHash (p89). Blobs never leave the decode partition;
    * what shuffles is (doc, frame, signature).
    */
  def decodeVideoFrames(withVideo: DataFrame): DataFrame =
    operators.Multimodal.decodeVideoFrames(withVideo)

  /** Temporal near-duplicate clip pairs (p90): same frame count, every
    * aligned frame within Hamming ≤ maxHamming; frame-0 banding makes
    * the blocking lossless at radius ≤ 3.
    */
  def videoNearDups(withVideo: DataFrame, maxHamming: Int = 3): DataFrame =
    operators.Multimodal.videoNearDupPairs(
      operators.Multimodal.decodeVideoFrames(withVideo), maxHamming)

  /** Persist a decoded frame table as the at-rest banded signature
    * store (p100's layout): hive-partitioned by band, sorted by band
    * value for row-group skipping.
    */
  def frameStoreWrite(frames: DataFrame, path: String): Unit =
    operators.Multimodal.frameStoreWrite(frames, path)

  /** Probe a [[frameStoreWrite]] store with a literal (qid, dHash)
    * batch (p100): partition pruning + pushed band filter; returns
    * every stored frame within `maxHamming` of each query hash.
    */
  def frameProbeStored(spark: SparkSession, path: String,
                       queryHashes: Seq[(Long, Long)],
                       maxHamming: Int = 3): DataFrame =
    operators.Multimodal.frameProbeStored(spark, path, queryHashes, maxHamming)

  /** Persist a [[operators.Multimodal.decodeWaveSegments]] table as an
    * at-rest banded signature store (p110) — the SAME store device as
    * [[frameStoreWrite]]: audio segments are isomorphic to video
    * frames under (seg → frame, sfp → fhash), so one layout, one
    * compactor and one probe plan serve both modalities.
    */
  def audioStoreWrite(segments: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    operators.Multimodal.frameStoreWrite(
      segments.select(col("doc_id"), col("seg").as("frame"),
        col("sfp").as("fhash")), path)
  }

  /** Probe an [[audioStoreWrite]] store with a literal (qid,
    * fingerprint) batch (p110): every stored segment within
    * `maxHamming` of each query fingerprint.
    */
  def audioProbeStored(spark: SparkSession, path: String,
                       queryFps: Seq[(Long, Long)],
                       maxHamming: Int = 3): DataFrame =
    operators.Multimodal.audioProbeStored(spark, path, queryFps, maxHamming)

  /** Train the p102 exact-integer batch perceptron on `docs`; returns
    * the B-bounded (bucket, weight) model frame.
    */
  def perceptronTrain(docs: DataFrame): DataFrame =
    operators.Pipeline11.perceptronTrain(docs)

  /** The phase-ordered training release plan (p106): per-document
    * curriculum phase, length-batch coordinates and seeded store
    * shard in one table — the artifact a curriculum trainer consumes.
    */
  def releasePlan(docs: DataFrame, phaseSize: Int, quantum: Int,
                  batchDocs: Int, shardSize: Int, seed: String): DataFrame =
    operators.Pipeline12.releasePlanOf(docs, phaseSize, quantum, batchDocs,
      shardSize, seed)

  /** Append form of [[releasePlan]]: frozen base coordinates, appended
    * docs extend each structure's tail (the p81 discipline).
    */
  def releasePlanAppend(base: DataFrame, inc: DataFrame, phaseSize: Int,
                        quantum: Int, batchDocs: Int, shardSize: Int,
                        seed: String): DataFrame =
    operators.Pipeline12.releasePlanAppendOf(base, inc, phaseSize, quantum,
      batchDocs, shardSize, seed)

  /** Train the POCKET form (p107): the best-training-error round's
    * weights with fixed-point early stop — the classic stabilization
    * for batch-perceptron oscillation on non-separable corpora. Same
    * (b, w) model shape — scores through [[perceptronScore]]
    * unchanged.
    */
  def perceptronTrainPocket(docs: DataFrame): DataFrame =
    operators.Pipeline11.perceptronTrainPocket(docs)

  /** Score ANY corpus under a [[perceptronTrain]] model — one
    * broadcast join + one doc roll-up; unseen buckets score zero.
    */
  def perceptronScore(docs: DataFrame, weights: DataFrame): DataFrame =
    operators.Pipeline11.perceptronScore(docs, weights)

  /** Reliability table of any scored frame `(margin, pred, y)`:
    * confidence band (pred · digits of |margin|) → doc count, correct
    * count, empirical accuracy ppm — read it before trusting a margin
    * threshold; the registered corpus is measurably asymmetric.
    */
  def calibrationBands(scored: DataFrame): DataFrame =
    operators.Pipeline13.calibrationBandsOf(scored)

  /** Threshold operating curve of any scored frame `(margin, pred,
    * y)`: per confidence band used as a keep-cut, cumulative tp/fp
    * and precision/recall ppm — pick the band where precision meets
    * target and read off the recall paid ([[calibrationBands]] says
    * whether to trust the score; this says where to cut).
    */
  def thresholdCurve(scored: DataFrame): DataFrame =
    operators.Pipeline13.thresholdCurveOf(scored)

  /** Length-bucketed batch assignment (p101): fixed-size batches
    * within quantum-rounded token-length buckets, with exact per-doc
    * pad waste — the serving-side padding lever.
    */
  def lengthBatches(docs: DataFrame, quantum: Int = 16,
                    batchDocs: Int = 8): DataFrame =
    operators.Pipeline10.lengthBatchingOf(docs, quantum, batchDocs)

  /** Curriculum phase assignment (p103): global order by quantized
    * lexical diversity (high first) cut into fixed-size phases, via
    * the TwoLevel no-single-partition-sort rank.
    */
  def curriculumPhases(docs: DataFrame, phaseSize: Int): DataFrame =
    operators.Pipeline11.curriculumPhasesOf(docs, phaseSize)

  /** Fuzzy benchmark decontamination decision table (p94): per doc,
    * distinct n-gram shingles, benchmark hits, and the ≥ pct%
    * integer-cross-multiplied `contaminated` verdict. The benchmark
    * shingle index broadcasts.
    */
  def decontaminate(docs: DataFrame, benchDocs: DataFrame,
                    n: Int = 3, pct: Int = 5): DataFrame =
    operators.Pipeline10.decontaminateOf(docs, benchDocs, n, pct)

  /** Span-level contamination excision (p95): remove exactly the token
    * positions covered by a benchmark-matching trigram and rebuild the
    * text — (doc_id, n_tokens, n_removed, clean_text).
    */
  def exciseContaminatedSpans(docs: DataFrame,
                              benchDocs: DataFrame): DataFrame =
    operators.Pipeline10.exciseSpansOf(docs, benchDocs)

  /** Cluster-balanced embedding sample (p96): at most `k` vectors per
    * IVF cell of the given centroid model, in a seeded hash order.
    */
  def clusterSample(emb: DataFrame, cents: Array[(Int, Seq[Float])],
                    k: Int, seed: String = "sample"): DataFrame =
    operators.Pipeline10.clusterSampleOf(emb, cents, k, seed)

  /** Trim-robust clip containment: (short, long, offset) where the
    * short clip's frames match a contiguous window of the long clip
    * within `maxHamming` — the trimmed-re-upload case equal-length
    * near-dup pairs cannot see. Anchored on the short clip's first
    * frame via the banded probe; never clips × clips.
    */
  def clipContainment(withVideo: DataFrame, maxHamming: Int = 3): DataFrame =
    operators.Multimodal.clipContainment(
      operators.Multimodal.decodeVideoFrames(withVideo), maxHamming)

  /** Scene-cut frames of each clip (p92): consecutive-frame dHash
    * distance > `tau`. */
  def sceneCuts(withVideo: DataFrame,
                tau: Int = operators.Pipeline10.CutTau): DataFrame =
    operators.Pipeline10.sceneCutsOf(
      operators.Multimodal.decodeVideoFrames(withVideo), tau)

  /** Keyframes of each clip (p93): first frame plus first frame after
    * every cut, with scene index and perceptual hash. The zero-shuffle
    * kernel twin for streams is
    * [[streaming.StreamingOps.videoKeyframesStream]].
    */
  def keyframes(withVideo: DataFrame,
                tau: Int = operators.Pipeline10.CutTau): DataFrame =
    operators.Pipeline10.keyframesOf(
      operators.Multimodal.decodeVideoFrames(withVideo), tau)

  /** Per-document Gopher-style rule verdicts + first-failing-rule
    * reason (p74); [[operators.Pipeline8.qualityPass]] is the
    * composite gate as a bare filter Column.
    */
  def qualityRules(docs: DataFrame): DataFrame =
    operators.Pipeline8.qualityRulesOf(docs)

  /** Deterministic seeded shuffle → fixed-size shard assignment (p75):
    * `docs` plus `shard` and the 1-based global position `__rn`, with
    * no single-partition sort anywhere (TwoLevel device).
    */
  def shardAssign(docs: DataFrame, idCol: String, shardSize: Int,
                  seed: String): DataFrame =
    operators.Pipeline8.seededShards(docs, idCol, shardSize, seed)

  /** Write the [[shardAssign]] output as hive-partitioned parquet
    * (`path/shard=<i>/`, one file per shard, rows in the seeded order)
    * and return the shard manifest. The physical release step: a
    * trainer's loader reads shard directories sequentially; the
    * manifest (written alongside as `path/_manifest/`) lets a resumed
    * publish verify untouched shards by counts and checksums without
    * re-reading them.
    */
  def shardWrite(docs: DataFrame, idCol: String, path: String,
                 shardSize: Int, seed: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val assigned = operators.Pipeline8.seededShards(docs, idCol, shardSize, seed)
      .localCheckpoint() // one computation feeds both the write and the manifest
    // sort by (shard, __rn): the dynamic-partition writer requires
    // ordering by the partition column anyway — providing it up front
    // avoids the writer's own inserted sort and makes per-file row
    // order guaranteed by construction, not by sort stability
    assigned.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__rn"))
      .drop("__rn")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val manifest = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col(idCol)).as("id_sum"))
      .orderBy(col("shard"))
    manifest.write.mode("overwrite").parquet(path + "/_manifest")
    manifest
  }

  /** BFS min-hop distances from `seeds(node)` over `edges(src, dst)`
    * (q63): iterative frontier with per-round lineage truncation.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame =
    operators.Relational8.bfsDistances(edges, seeds, maxHops)

  /** Exact fixed-point integer PageRank over `edges(src, dst)` (q64):
    * damping 0.85, uniform teleport + dangling redistribution,
    * bit-reproducible across runs and partitionings.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    operators.Relational8.pageRank(edges, iters)

  /** Weighted PageRank over `edges(src, dst, wt)` (q72): rank flows
    * proportionally to transition weights — PageRank over an empirical
    * Markov chain. Same exact-integer contract as [[pageRank]].
    */
  def pageRankWeighted(edges: DataFrame, iters: Int): DataFrame =
    operators.Relational8.pageRankWeighted(edges, iters)

  /** k-core of `edges(src, dst)` (q66): iteratively peel nodes of
    * within-core degree < k (at most `maxRounds` rounds); returns the
    * surviving nodes with their within-core degree.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 32): DataFrame =
    operators.Relational8.kCore(edges, k, maxRounds)

  /** Per-node triangle participation counts of `edges(src, dst)`
    * (q65). `degreeOrdered = true` (the default) orients each edge
    * toward its higher-(degree, id) endpoint, bounding every join
    * fan-out by sqrt(|E|) on power-law graphs — the form to use at
    * scale; `false` is the id-ordered variant (identical counts,
    * property-pinned; one less aggregation).
    */
  def triangleCounts(edges: DataFrame,
                     degreeOrdered: Boolean = true): DataFrame = {
    val und = operators.Relational8.canonicalUndirected(edges)
    if (degreeOrdered) operators.Relational8.trianglesDegreeOrdered(und)
    else operators.Relational8.trianglesIdOrdered(und)
  }

  /** Bounded-state per-key EWMA over a normalized
    * `(user_id, us, event_id, c)` frame (q69's heavy-key form):
    * repartition + external partition sort + streaming fold, O(1)
    * state per key — the shape that survives a 10⁸-event power user.
    */
  def ewmaBounded(ev: DataFrame): DataFrame =
    operators.Relational8.ewmaBounded(ev)

  /** Connected components of an arbitrary `edges(src, dst)` frame:
    * every node labeled with its component's minimum node id, via the
    * O(log n) large-star/small-star contraction behind p33. The
    * generic-graph door to the dedup cluster machinery.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    operators.Dedup.dedupClustersLogN(nodes, "node",
        edges.select(col("src").as("d1"), col("dst").as("d2")))
      .select(col("doc_id").as("node"), col("canonical").as("component"))
  }

  /** The ONE-CALL text takedown — the full blast radius of withdrawing
    * documents from a text deployment, in dependency order: the dedup
    * stores (labels recontract from store-derived evidence, LSH
    * signatures leave so later arrivals cannot gate-match withdrawn
    * content — `StreamingOps.dedupRetractBatch`), the verified gate's
    * shingle SIDECAR (bucket-pruned `Maintenance.removePrunedRows` —
    * without it the exact-Jaccard verify keeps confirming re-uploads
    * of withdrawn text), and the POSTING store (the retrieval half:
    * rows leave, stats decrement exactly —
    * `StreamingOps.lexicalRetractBatch`). Pass None for stores the
    * deployment does not keep. Every member is individually
    * crash-idempotent and gated on its own store's state, so a crash
    * anywhere re-runs to convergence; run from the one maintenance
    * scheduler like every store mutation. Returns the number of label
    * rows retracted (0 on a pure retry).
    */
  /** `deferred = true` routes BOTH full-rewrite halves through their
    * tombstone paths — the LSH store (`dedupRetractDeferred`) and the
    * posting store (`lexicalRetractDeferred`: stats still decrement
    * NOW, exactly; the rows only queue, every stored probe anti-joins
    * the pending set, and the physical rewrite rides the bucketed
    * compaction cadence) — so a deferred takedown is O(batch) across
    * every store the deployment keeps; the sidecar stays a pruned
    * rewrite (already cheap, bucket-locatable).
    */
  /** `retractId = None` (the default) derives the posting-store
    * commit-record id FROM THE BATCH CONTENT
    * (`StreamingOps.retractIdFor`) — a crash retry of the same batch
    * reuses its record (idempotent) while successive DISTINCT
    * takedowns get distinct ids, so each one's exact stats decrement
    * lands; a hand-picked constant here would make every takedown
    * after the first silently skip the decrement and skew BM25
    * forever. Pass an explicit id only to coordinate with an external
    * retraction ledger.
    */
  def takedownText(spark: SparkSession, removeIds: DataFrame,
                   lshStorePath: String, labelPath: String,
                   sidecarPath: Option[String] = None,
                   postingTable: Option[String] = None,
                   postingBuckets: Int = 8,
                   retractId: Option[Long] = None,
                   deferred: Boolean = false): Long = {
    val retract =
      if (deferred) graft.streaming.StreamingOps.dedupRetractDeferred(
        spark, lshStorePath, labelPath) _
      else graft.streaming.StreamingOps.dedupRetractBatch(
        spark, lshStorePath, labelPath) _
    val n = retract(removeIds)
    sidecarPath.foreach { p =>
      graft.sources.Maintenance.removePrunedRows(spark, p, removeIds,
        "doc_id", "bucket", Some("doc_id"))
    }
    postingTable.foreach { t =>
      val rid = retractId.getOrElse(
        graft.streaming.StreamingOps.retractIdFor(removeIds))
      if (deferred) graft.streaming.StreamingOps.lexicalRetractDeferred(
        spark, t, postingBuckets, rid)(removeIds)
      else graft.streaming.StreamingOps.lexicalRetractBatch(
        spark, t, postingBuckets, rid)(removeIds)
    }
    n
  }

  /** The ONE-CALL vector takedown — [[takedownText]]'s embedding twin:
    * the dedup half (labels recontract, the retracted vectors leave
    * the p41 cell store — `StreamingOps.vectorRetractBatch`) plus the
    * RETRIEVAL half the eager handler alone misses: a deployment
    * serving ADC probes holds the p49 CODES store too, and a
    * withdrawn vector left there stays retrievable (its 8-byte code
    * row keeps ranking in every shortlist). Both stores retract
    * CELL-PRUNED (`Maintenance.removeIvfRows` — a vector's rows live
    * in exactly one cell of each layout). Pass None when the
    * deployment keeps no compressed index. Individually idempotent
    * halves; run from the one maintenance scheduler. Returns the
    * label rows retracted.
    */
  /** `deferred = true` routes BOTH cell layouts through their
    * tombstone paths (`StreamingOps.vectorRetractDeferred` for the
    * embedding store; a zone append for the codes store — its reader
    * `Pipeline6.ivfPqTopKStored` is tombstone-aware like every stored
    * probe): labels still recontract NOW, the withdrawn vectors stop
    * ranking immediately through BOTH indexes, and the physical
    * rewrites ride the maintenance cadence — the takedown itself is
    * O(batch) instead of O(affected cells).
    */
  def takedownVectors(spark: SparkSession, removeIds: DataFrame,
                      ivfStorePath: String, labelPath: String,
                      cents: Array[(Int, Seq[Float])], tau: Double,
                      nProbe: Int,
                      codesStorePath: Option[String] = None,
                      deferred: Boolean = false): Long = {
    val retract =
      if (deferred) graft.streaming.StreamingOps.vectorRetractDeferred(
        spark, ivfStorePath, labelPath, cents, tau, nProbe) _
      else graft.streaming.StreamingOps.vectorRetractBatch(
        spark, ivfStorePath, labelPath, cents, tau, nProbe) _
    val n = retract(removeIds)
    // the codes store's half is the IVF store half of the takedown
    // skeleton; deferred also runs its compaction trigger inline, as
    // no ingest handler runs it for the codes store
    codesStorePath.map(graft.streaming.StreamingOps.SignatureStore.ivf)
      .foreach { codes =>
        val rm = removeIds.select(
          org.apache.spark.sql.functions.col("vec_id").as("doc_id"))
        if (deferred) {
          codes.tombstone(spark, rm)
          codes.compact(spark,
            graft.streaming.StreamingOps.DefaultCompactMaxFiles)
        } else codes.remove(spark, rm)
      }
    n
  }
}
