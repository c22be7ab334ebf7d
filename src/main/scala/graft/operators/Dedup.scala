package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import graft.functions.TextAnalysis._

/** Document deduplication operators for the training-data pipeline:
  * exact, canonical-fingerprint, exact n-gram Jaccard, MinHash+LSH and
  * SimHash near-dup detection.
  *
  * Design constraints honored throughout:
  *  - NO UDFs: every hash is a Catalyst builtin (md5 / xxhash64 /
  *    bit ops), so the scan→shingle→hash pipeline is one codegen span.
  *  - Cross-engine reproducibility: the randomized parts of MinHash /
  *    SimHash are derandomized through md5, which any engine computes
  *    identically — that is what makes the DuckDB differential oracle
  *    possible (and makes results stable across cluster re-runs).
  *  - Scale: nothing materializes O(n²). Near-dup operators go through
  *    an inverted index (shared shingle) or an LSH band join, the
  *    standard 100 TB-corpus shapes. Known skew hazards are in each
  *    Scaladoc.
  */
object Dedup {

  /** Exact dedup: keep the first (min id) row per identical text.
    * Scale: single hash shuffle on the text key; Spark's partial
    * aggregation dedups within partitions before shuffling. For very
    * long texts group by md5(text) instead to shrink shuffle keys —
    * semantics identical modulo md5 collisions.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    rebalance(docs).groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Fingerprint dedup: canonical form = sorted distinct token set.
    * Catches word-order and repetition variants that exact dedup misses.
    */
  def byFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    rebalance(docs).select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rebalance rows across all cores before a CPU-heavy per-row
    * expansion (shingling, hashing). The test corpus arrives as one
    * single-row-group parquet file = one input split = one core; the
    * round-robin shuffle costs rows×(id+text) and buys full parallelism
    * for everything downstream. Conditional and plan-static (shared
    * [[Parallelism]] device): a many-split production corpus passes
    * through untouched, so no gratuitous text shuffle at scale.
    */
  private def rebalance(df: DataFrame): DataFrame =
    Parallelism.ensureParallel(df)

  /** Distinct (id, shingle) pairs — the inverted-index input shared by
    * the Jaccard and MinHash paths.
    */
  def shinglePairs(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    rebalance(docs).select(col(idCol).as("doc_id"),
                explode(shingles(col(textCol), n)).as("ngram"))

  /** Exact n-gram Jaccard near-dup pairs (doc1 < doc2, similarity >=
    * threshold).
    *
    * Scale shape: inverted-index self-join — only documents sharing at
    * least one shingle ever meet, so the candidate set is sparse, not
    * O(n²). Hazard: ultra-frequent shingles ("stop shingles") create
    * quadratic hot keys; the `maxDf` cap drops them at the bucket
    * filter (no extra pass), which only removes candidates that share
    * boilerplate. AQE skew-join handles residual imbalance.
    *
    * @param maxDf document-frequency cap: shingles shared by more than
    *   this many docs are dropped BEFORE pair expansion (bounds the
    *   worst bucket at maxDf²/2 pairs). Default unbounded. Capping is
    *   the standard recall/precision trade at corpus scale: removed
    *   shingles are boilerplate, but their absence from the
    *   intersection count can only LOWER a pair's computed Jaccard, so
    *   the capped pair set is a subset of the uncapped one (pinned by
    *   DedupSpec).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDf: Int = Int.MaxValue): DataFrame = {
    // Three shape decisions, all shuffle-minimizing:
    //  1. Per-doc shingle counts come from a map-only projection
    //     (size of the shingle array) — no aggregation branch.
    //  2. The shingle stream is keyed by a 64-bit hash, so the
    //     inverted-index shuffle carries one long per (doc, shingle),
    //     not an n-word string. The hash choice is NOT part of the
    //     semantics (only bucket identity matters and the output is
    //     hash-free), so Spark uses codegen'd xxhash64 while the
    //     oracle buckets by md5 — both collision-free at any
    //     realistic corpus (~2^-64 per pair), and a collision would
    //     surface as a differential-check mismatch.
    //  3. Pair counting is ONE groupBy(ngram) + in-bucket pair
    //     expansion + groupBy(pair) — the shingle pipeline executes
    //     once, where a self-join would run it per side. "Stop
    //     shingles" (boilerplate shared by thousands of docs) blow up
    //     a bucket quadratically; at corpus scale cap document
    //     frequency (filter size(ids) <= cap) before expansion, which
    //     drops only boilerplate-induced candidates.
    //  4. The expensive scan→shingle→hash expansion runs ONCE: the
    //     hashed (doc, shingle) stream is localCheckpoint'd and both
    //     consumers (per-doc sizes via a cheap count, the inverted
    //     index) read the materialized longs — measured ~2x faster
    //     end-to-end than re-shingling for the size branch. (A
    //     struct-riding single-pass variant that avoids even the
    //     count was ALSO tried and measured 2x SLOWER: struct values
    //     fall out of codegen into interpreted compares on the
    //     docs×shingles stream.) shingles() is array_distinct per
    //     doc, so count(*) over the stream IS the shingle-set size.
    //     At cluster scale swap localCheckpoint for persist(DISK) or
    //     a staging write — same one-expansion shape.
    //     (eager = false: materializes at execution; construction runs
    //     at most the footer read + the conditional local-input
    //     fan-out stage — none at scale; see
    //     Pipeline4.qualityRepetition for the full contract)
    val sh = shinglePairs(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("ngram")).as("ngram"))
      .localCheckpoint(eager = false)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh
      .groupBy(col("ngram"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDf)
      .select(explode(unorderedPairs(col("ids"))).as("p"))
      .groupBy(col("p.a").as("d1"), col("p.b").as("d2"))
      .agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") /
      (col("s1.n_sh") + col("s2.n_sh") - col("c"))
    inter
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .filter(jac >= threshold)
      .select(col("d1"), col("d2"), round(jac, 4).as("jaccard"))
  }

  /** Wide MinHash signatures: one row per doc, one column `mh<i>` per
    * hash function. The k "independent permutations" come from
    * Kirsch–Mitzenmacher double hashing: one md5 per shingle split into
    * two 28-bit halves h1, h2, then `hash_i = h1 + i·h2`. One md5 per
    * shingle total (vs k salted md5s — benchmarked 2.6× faster at
    * sf0.1), and every hash_i stays < 2^33 so engines with
    * overflow-checked 64-bit arithmetic (DuckDB) compute it identically.
    *
    * Scale shape: computing the k mins as k parallel aggregates (instead
    * of exploding k rows per shingle) keeps the pre-shuffle row count at
    * docs×shingles and lets map-side partial aggregation collapse it to
    * one row per doc per partition — the shuffle carries docs×k longs,
    * independent of corpus token count. (The exploded variant
    * benchmarked 11s at sf0.1 vs ~2s for this one.)
    */
  def minhash(docs: DataFrame, idCol: String, textCol: String,
              n: Int, numHashes: Int): DataFrame = {
    val withH = shinglePairs(docs, idCol, textCol, n)
      .withColumn("m", md5(col("ngram")))
      .withColumn("h1", conv(substring(col("m"), 1, 7), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("m"), 8, 7), 16, 10).cast("long"))
    val mins = (0 until numHashes).map { i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"mh$i")
    }
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: concatenate each band's minhashes (in hash-index
    * order) into one signature string, one row per (doc, band); docs
    * colliding on any (band, sig) are candidate near-dups.
    *
    * Scale: the candidate join is a plain hash join on (band, sig) —
    * shuffle O(docs × bands), never O(n²). Giant duplicate clusters
    * produce hot band keys; the distinct() after the join keeps output
    * bounded and AQE splits skewed partitions.
    */
  def minhashBands(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val sigs = (0 until bands).map { b =>
      concat_ws("|", (b * r until (b + 1) * r).map(i => col(s"mh$i")): _*)
    }
    sig.select(col("doc_id"), posexplode(array(sigs: _*)).as(Seq("band", "sig")))
  }

  /** All unordered element pairs (a < b in array order) of a sorted
    * array — `[x1,x2,x3] → [(x1,x2),(x1,x3),(x2,x3)]` as
    * `array<struct<a,b>>`. Pure higher-order functions, stays in codegen.
    */
  private[operators] def unorderedPairs(xs: Column): Column =
    flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + lit(2), size(xs)),
                y => struct(x.as("a"), y.as("b")))))

  /** Candidate near-dup pairs from MinHash LSH (doc1 < doc2).
    *
    * Pair generation is a bucket group-by — `groupBy(band, sig) →
    * collect ids → emit pairs` — NOT a self-join: one execution of the
    * signature pipeline and one shuffle, where the self-join form runs
    * the whole scan→shingle→hash pipeline once per side (no exchange
    * reuse across join sides; benchmarked 2× slower, and a .cache()
    * costs more than the recompute at bench scale). Skew hazard: a
    * giant duplicate cluster concentrates one bucket on one task and
    * emits |bucket|² pairs — that is inherent to LSH output size; at
    * corpus scale cap bucket width (slice the id list) or pre-sample
    * known boilerplate, and keep exact-dedup upstream of near-dedup.
    */
  /** @param maxBucket LSH bucket-width cap: buckets wider than this are
    *   dropped before pair expansion (a bucket of a million mirror
    *   copies would otherwise emit 5·10¹¹ pairs on one task). Default
    *   unbounded; capped candidates are a subset of the uncapped set.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, numHashes: Int = 16, bands: Int = 4,
                      maxBucket: Int = Int.MaxValue): DataFrame =
    lshPairsFromBands(
      minhashBands(minhash(docs, idCol, textCol, n, numHashes), numHashes, bands),
      maxBucket)

  /** The pair tail of [[minhashLshPairs]] over an already-banded
    * signature frame — split out so a caller that needs BOTH the
    * candidate pairs and the storable signature rows of one batch
    * (the incremental ingestion loop, p123) can share a single
    * execution of the scan→shingle→minhash pipeline between the two
    * consumers instead of running it per product. Identical expression
    * tree to the fused form, so p04's plan (and pin) is untouched.
    */
  def lshPairsFromBands(banded: DataFrame,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(banded, Seq("band", "sig"), maxBucket)

  /** THE bucket-group-by pair tail — one definition behind
    * [[lshPairsFromBands]] (bucket key = the signature string) and
    * [[lshPairsFromStore]] (bucket key = the stored hash): the two
    * spellings must stay in lockstep or the live decision tables'
    * bit-identical-to-from-scratch oracles (p134/p136) silently
    * diverge from the batch path. Same expression tree as the fused
    * p04 form, so its plan (and pin) is untouched.
    */
  private def bucketPairs(rows: DataFrame, keyCols: Seq[String],
                          maxBucket: Int): DataFrame =
    rows.groupBy(keyCols.map(col): _*)
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(unorderedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("d1"), col("p.b").as("d2"))
      .distinct()

  /** One document's LSH band signatures as storable rows `(doc_id,
    * band, sig_h)` — the signature pipeline of [[minhashLshPairs]]
    * with each band signature folded to a 64-bit xxhash64 key. The
    * hash stands in for the signature string exactly as p03's
    * inverted index keys shingles by xxhash64: only bucket identity
    * matters, collisions are ~2⁻⁶⁴ per pair, and one would surface as
    * a differential-check mismatch. Shared by the at-rest store
    * writer, the stored probe's query side and the streaming
    * ingester — writer and prober must agree on this shape
    * bit-for-bit.
    */
  def lshSignatureRows(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 5, numHashes: Int = 16,
                       bands: Int = 4): DataFrame =
    sigRowsFromBands(
      minhashBands(minhash(docs, idCol, textCol, n, numHashes),
        numHashes, bands))

  /** The storable-row tail of [[lshSignatureRows]] over an
    * already-banded frame — the [[lshPairsFromBands]] twin, same
    * single-execution rationale.
    */
  def sigRowsFromBands(banded: DataFrame): DataFrame =
    banded.select(col("doc_id"), col("band"),
      xxhash64(col("sig")).as("sig_h"))

  /** At-rest LSH signature store for TEXT near-dup — the p100/p110
    * banded-store discipline applied to MinHash band signatures:
    * hive-partitioned by `band` (partition pruning), SORTED by
    * `sig_h` within each file (pushed `sig_h IN (…)` filters skip row
    * groups via parquet min/max). 4 rows of 3 scalars per document —
    * the store an incremental text-dedup deployment probes on every
    * arriving batch instead of rescanning the corpus.
    */
  def lshStoreWrite(sigRows: DataFrame, path: String): Unit =
    sigRows
      .withColumn("ingest_batch", lit(-1L))
      .repartition(col("band"))
      .sortWithinPartitions(col("band"), col("sig_h"))
      .write.mode("overwrite").partitionBy("band")
      // SMALL row groups from the very first build (not just after
      // lshStoreCompact): group size is the probe's read-amplification
      // floor, and the 128 MB analytics default would put a whole band
      // in one group — making the pushed sig_h IN filter skip nothing
      // on a freshly built store
      .option("parquet.block.size", 1 << 20)
      .parquet(path)

  /** Compact an appended [[lshStoreWrite]] store to ONE sig_h-SORTED
    * file per band partition — [[Multimodal.frameStoreCompact]]'s
    * lesson applied to the text index: streamed appends
    * (`StreamingOps.lshMergeStaged`) leave unsorted sliver files whose
    * row groups span the whole signature space, so the probe's pushed
    * `sig_h IN (…)` filter skips nothing until this pass re-establishes
    * the writer's sort. Rewrite-then-swap (src untouched until dst is
    * complete); preserves `ingest_batch` so the merge's exactly-once
    * presence probe survives. Small row groups deliberately — group
    * size is the probe's read-amplification floor (the measured
    * frame-store rationale, BASELINE.md).
    */
  def lshStoreCompact(spark: org.apache.spark.sql.SparkSession,
                      src: String, dst: String,
                      rowGroupBytes: Int = 1 << 20): Unit =
    graft.sources.Maintenance.compactPartitionedSorted(
      spark, src, dst, "band", "sig_h", rowGroupBytes)

  /** Plan-literal probe-batch bound shared by the stored probes (text
    * here, video/audio in [[Multimodal]]): up to this many query rows
    * encode as plan-time literals (pushed `IN` filters → row-group
    * skipping); above it the probe degrades gracefully to a
    * BROADCAST-JOIN plan — an unbounded micro-batch must not build an
    * unbounded Catalyst expression (a 10⁵-doc batch would otherwise
    * plan ~4·10⁵ literals and stall analysis/codegen before any data
    * is read). 4096 literals plan in milliseconds; the fallback keeps
    * the partition pruning and trades only the row-group skip.
    */
  val MaxProbeLiterals = 4096

  /** Band count of the default LSH banding (16 hashes / 4 rows per
    * band) — the signature rows per document, which is what converts
    * a document bound into a probe-literal bound.
    */
  val DefaultLshBands = 4

  /** Tombstone-aware LSH store scan — every reader of the signature
    * store goes through it, so a DEFERRED takedown
    * ([[graft.sources.Maintenance.tombstoneAppend]]) stops matching the
    * moment it is queued, not only after the compaction applies it
    * physically. No pending tombstones → a plain scan.
    */
  private def lshStoreScan(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    graft.sources.Maintenance.minusTombstones(spark, path,
      spark.read.parquet(path))

  /** Stored candidate probe: every stored document sharing at least
    * one band signature with a query — p04's candidate semantics
    * answered from the at-rest store. Up to [[MaxProbeLiterals]] query
    * signatures are plan-time literals (the frameProbeStored
    * precedent), so the scan prunes to the queried bands and the
    * pushed `sig_h IN` filter reads only the row groups holding
    * candidate signatures; larger batches switch to a broadcast join
    * against the same band-pruned scan (identical semantics,
    * spec-pinned — only the row-group skip is traded away). No
    * verification stage: LSH candidates are unverified by design
    * (p04's contract); compose with [[ngramJaccardPairs]] or a
    * downstream gate to verify.
    */
  def lshProbeStored(spark: org.apache.spark.sql.SparkSession,
                     path: String,
                     querySigs: Seq[(Long, Int, Long)],
                     maxLiterals: Int = MaxProbeLiterals): DataFrame = {
    require(querySigs.nonEmpty, "empty probe batch")
    if (querySigs.size <= maxLiterals) {
      val byBand: Map[Int, Seq[Long]] =
        querySigs.groupBy(_._2).map { case (b, xs) =>
          b -> xs.map(_._3).distinct
        }
      val cond = byBand.toSeq.sortBy(_._1).map { case (b, hs) =>
        col("band") === b && col("sig_h").isin(hs: _*)
      }.reduce(_ || _)
      val qs = typedLit(querySigs)
      lshStoreScan(spark, path)
        .filter(cond)
        .select(col("doc_id"), col("band"), col("sig_h"),
          explode(qs).as("q"))
        .filter(col("q._2") === col("band") && col("q._3") === col("sig_h"))
        .select(col("q._1").as("qid"), col("doc_id"))
        .distinct()
    } else {
      // broadcast fallback: bands are few (≤ the banding's band count),
      // so the band prune stays a literal partition filter; the
      // signature match rides a broadcast hash join instead of a
      // literal IN
      import spark.implicits._
      val q = querySigs.toDF("qid", "band", "sig_h")
      val bands = querySigs.map(_._2).distinct.sorted
      lshStoreScan(spark, path)
        .filter(col("band").isin(bands: _*))
        .join(broadcast(q), Seq("band", "sig_h"))
        .select(col("qid"), col("doc_id"))
        .distinct()
    }
  }

  /** [[lshProbeStored]] with the query side kept a DATAFRAME end to
    * end — the no-driver-collect spelling for micro-batches too large
    * for the literal plan (the verified gate's fallback, mirroring the
    * probe's own broadcast fallback): the band prune still collects,
    * but only the batch's DISTINCT band values (bounded by the
    * banding's band count — model-sized, never batch-sized), and the
    * signature match rides a plain join that AQE sizes (broadcast when
    * the batch turns out small, shuffle when it doesn't). Identical
    * candidate semantics to the literal path, spec-pinned.
    */
  def lshProbeStoredDF(spark: org.apache.spark.sql.SparkSession,
                       path: String, sigRows: DataFrame): DataFrame = {
    // one execution of the caller's signature pipeline, two consumers
    // (the band-prune collect and the join) — exactly the oversized
    // batches would otherwise pay the heaviest stage twice
    val sr = sigRows.localCheckpoint(eager = false)
    val bands = sr.select(col("band")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (bands.isEmpty) return sr
      .select(col("doc_id").as("qid"), col("doc_id")).limit(0)
    lshStoreScan(spark, path)
      .filter(col("band").isin(bands.toIndexedSeq: _*))
      .join(sr.select(col("doc_id").as("qid"), col("band"),
        col("sig_h")), Seq("band", "sig_h"))
      .select(col("qid"), col("doc_id"))
      .distinct()
  }

  /** The [[minhashLshPairs]] candidate relation re-derived from a
    * stored [[lshStoreWrite]] layout — the LIVE spelling for the
    * decision tables (p134's release card): the scan→shingle→minhash
    * pipeline that dominates from-scratch pair generation is already
    * paid and at rest as the maintained signature store, so the pair
    * matrix is one `(band, sig_h)` bucket group-by over 4 rows/doc
    * (the [[lshPairsFromBands]] tail — the shared [[bucketPairs]]
    * definition — with hash keys standing in for signature strings
    * exactly as the stored probes do: bucket identity is all that
    * matters, collisions ~2⁻⁶⁴ per pair and
    * differential-check-visible). Never a self-join; the group-by
    * shuffles the store's own thin rows, not the corpus. `maxBucket`
    * is the same degenerate-bucket guard as the batch form's (a
    * million-copy boilerplate bucket squares on one task); the
    * registered oracle-checked entries run uncapped.
    */
  def lshPairsFromStore(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        maxBucket: Int = Int.MaxValue): DataFrame =
    bucketPairs(lshStoreScan(spark, path), Seq("band", "sig_h"), maxBucket)

  /** [[lshPairsFromStore]] restricted to pairs AMONG `ids` — the
    * component-bounded evidence derivation the retraction handlers
    * use: a takedown only needs the pair relation among the affected
    * components' surviving members, and a bucket pair has both
    * endpoints in that set iff both rows survive the semi-join, so
    * filtering BEFORE the group-by yields exactly the restricted
    * relation while the shuffle carries members' rows instead of the
    * store (TakedownProbe measured the full-store derivation as the
    * dominant term of the label half at scale — the same
    * component-bounding the video/audio/vector handlers already do).
    * `ids` is takedown-component-sized and broadcasts.
    *
    * Deliberately NO `maxBucket` knob: the filter-before-group-by
    * commutation only holds uncapped — with a finite cap, a bucket
    * over the cap in the full store can shrink below it after the
    * semi-join and emit pairs the full derivation suppressed. Cap at
    * the consumer instead.
    */
  def lshPairsFromStoreAmong(spark: org.apache.spark.sql.SparkSession,
                             path: String, ids: DataFrame): DataFrame =
    bucketPairs(
      lshStoreScan(spark, path)
        .join(broadcast(ids.select(col("doc_id"))), Seq("doc_id"),
          "left_semi"),
      Seq("band", "sig_h"), Int.MaxValue)

  /** One document's distinct shingle HASHES as storable rows
    * (doc_id, sh) — the verification-side twin of
    * [[lshSignatureRows]]: 64-bit xxhash64 keys stand in for the
    * shingle strings exactly as in p03's inverted index (set
    * cardinalities are preserved modulo ~2⁻⁶⁴ collisions, which the
    * differential oracle would surface), so an exact-Jaccard verify
    * can run on longs instead of n-word strings. Shared by the at-rest
    * sidecar writer, the verify's query side and the streaming
    * ingester.
    */
  def shingleSidecarRows(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 5): DataFrame =
    shinglePairs(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("ngram")).as("sh"))

  /** Bucket count of the shingle sidecar — must match between writer
    * and verifier (bucket identity is `doc_id mod` this).
    */
  val SidecarBuckets = 16

  /** At-rest shingle SIDECAR for the stored text gate: the per-doc
    * shingle-hash sets persisted doc_id-bucketed beside the LSH store,
    * so [[lshProbeStored]]/`textDedupGateBatch` candidates can be
    * exact-Jaccard VERIFIED without rescanning the corpus — without
    * it, the verify stage needs the stored documents' shingles and
    * must re-shingle 100 TB per arriving batch, defeating the
    * incremental deployment the signature store enables. Layout
    * discipline as every store here: hive-partitioned by
    * `bucket = doc_id mod` [[SidecarBuckets]] (partition pruning to
    * candidate buckets), SORTED by doc_id within each file (pushed
    * doc_id predicates skip row groups), small row groups.
    */
  def shingleStoreWrite(sidecarRows: DataFrame, path: String,
                        nBuckets: Int = SidecarBuckets): Unit =
    sidecarRows
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets)).cast("int"))
      .withColumn("ingest_batch", lit(-1L))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
      .write.mode("overwrite").partitionBy("bucket")
      .option("parquet.block.size", 1 << 20)
      .parquet(path)

  /** VERIFY stored-probe candidates by exact Jaccard against the
    * [[shingleStoreWrite]] sidecar: for each candidate pair (qid,
    * doc_id) — typically [[lshProbeStored]]'s output — compute the
    * true shingle-set Jaccard between the query's shingles and the
    * STORED document's sidecar rows, and keep pairs at `>= tau`. This
    * is the verify stage p04's unverified-candidates contract defers:
    * candidates → sidecar join → exact Jaccard, reading only the
    * candidate documents' buckets.
    *
    * Scale shape: candidates and query shingles are probe-batch-sized
    * and broadcast; the sidecar scan joins on the PARTITION column
    * (dynamic partition pruning to candidate buckets — the p41 plan
    * device) then semi-restricts to candidate doc_ids, so the read is
    * candidate-sized, never corpus-sized. Set sizes come from
    * counting the already-read rows (the sidecar stores sets, so
    * count(*) per doc IS the set size — no second dataset).
    *
    * @param candidates (qid, doc_id) pairs to verify
    * @param queryShingles (qid, sh) rows of the QUERY documents —
    *   [[shingleSidecarRows]] of the arriving batch under its own ids
    * @param broadcastQuery probe-batch-sized inputs (the contract of
    *   the registered p117 path) broadcast; pass false when the batch
    *   is NOT known to be bounded (the verified gate's oversized
    *   fallback) — every hint drops, the joins shuffle, and AQE still
    *   broadcasts whichever side turns out small
    */
  def lshVerifyStored(spark: org.apache.spark.sql.SparkSession,
                      sidecarPath: String, candidates: DataFrame,
                      queryShingles: DataFrame, tau: Double,
                      nBuckets: Int = SidecarBuckets,
                      broadcastQuery: Boolean = true): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (broadcastQuery) broadcast(df) else df
    val cand = candidates.select(col("qid"), col("doc_id"))
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets)).cast("int"))
      .localCheckpoint(eager = false) // feeds the prune, the semi-join
                                      // and the output frame
    val stored = spark.read.parquet(sidecarPath)
      .join(bc(cand.select(col("bucket"), col("doc_id")).distinct()),
        Seq("bucket", "doc_id"))
    val ns = stored.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val nq = queryShingles.groupBy(col("qid")).agg(count(lit(1)).as("nq"))
    val inter = stored
      .join(bc(queryShingles), Seq("sh"))
      .join(bc(cand.select(col("qid"), col("doc_id"))),
        Seq("qid", "doc_id"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("c"))
    val jac = col("c") / (col("nq") + col("ns") - col("c"))
    inter
      .join(bc(nq), Seq("qid"))
      .join(bc(ns), Seq("doc_id"))
      .filter(jac >= tau)
      .select(col("qid"), col("doc_id"), round(jac, 4).as("jaccard"))
  }

  /** Dedup cluster resolution: connected components over a near-dup
    * pair graph, labeling every document with its cluster's minimum
    * doc id (the canonical survivor). Pairs → clusters is what turns
    * pairwise near-dup detection into an actionable keep/drop set.
    *
    * Algorithm: iterative min-label propagation — each round every
    * vertex takes the min label among itself and its neighbors; done
    * when a round changes nothing (≤ graph diameter rounds; near-dup
    * clusters are shallow). Each round is one join + one aggregate, and
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * does not replay rounds 1..N−1. At larger diameters switch to the
    * large-star/small-star contraction, which converges in O(log n)
    * rounds with the same per-round join shape.
    */
  /** The shared driver fast path of both cluster devices: collect the
    * (already checkpointed) pair list under the union-find bound,
    * contract it locally ([[LabelStore.unionFindMin]] — min-root, so
    * every component's label IS its minimum id), and label `docs` with
    * one left join against the local relation. One collect query where
    * the distributed loops pay ~2 jobs per round. With `docsOnly` the
    * union-find sees only the pairs whose two endpoints are both in
    * `docs`, the subgraph the min-label loop propagates over: a count of
    * the pairs checks the bound first, so an overflow declines without
    * reading `docs`, and the collect semi-joins the pairs against `docs`
    * on both endpoints. Returns None when
    * the evidence overflows the bound, or when the id column or a pair
    * column is not of an integral type, which the union-find's long
    * keys cannot hold (the loops take over, output-identical). Ids pass
    * through a long cast both ways so the output schema matches the
    * loop's exactly whatever integral type the caller's id column has.
    */
  private def driverClusters(docs: DataFrame, idCol: String,
                             p: DataFrame, docsOnly: Boolean,
                             bound: Long): Option[DataFrame] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.select(col(idCol)).schema.head.dataType
    if (!(idType +: p.select(col("d1"), col("d2")).schema.map(_.dataType))
        .forall(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains)) return None
    if (docsOnly && Prof.labeled(spark, "cc.collect")(p.count()) > bound) return None
    val arr = Prof.labeled(spark, "cc.collect") {
      val edges = p.select(col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"))
      val ids = docs.select(col(idCol).cast("long").as("id"))
      (if (docsOnly) edges.join(ids, col("d1") === col("id"), "left_semi")
        .join(ids, col("d2") === col("id"), "left_semi") else edges)
        .limit(math.min(bound + 1, Int.MaxValue.toLong).toInt).collect()
    }
    if (arr.length > bound) return None
    val mini = LabelStore.unionFindMin(
      arr.iterator.map(r => (r.getLong(0), r.getLong(1))))
    val buf = new Array[(Long, Long)](mini.size())
    var i = 0
    mini.forEach { (id, rt) => buf(i) = (id, rt); i += 1 }
    Some(docs.select(col(idCol).as("doc_id"))
      .join(buf.toSeq.toDF("doc_id", "canonical")
          .select(col("doc_id").cast(idType).as("doc_id"),
            col("canonical").cast(idType).as("canonical")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical"), col("doc_id")).as("canonical")))
  }

  /** Pairs with an endpoint outside `docs` are ignored: the min-label
    * loop propagates over the docs-induced subgraph, and the driver
    * fast path contracts only that subgraph too, so an outside id never
    * bridges two components on either path. (The logN device instead
    * bridges through outside nodes on both of its paths.)
    */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    maxRounds: Int = 50,
                    maxDriverEdges: Long = LabelStore.MaxDriverEdges): DataFrame = {
    // materialize the pair pipeline before the symmetrizing union
    // consumes it twice. Locally this measures at parity (ReusedExchange
    // already shares the identical subtree under both branches), but the
    // checkpoint makes run-once deterministic rather than a planner
    // courtesy — the candidate generation upstream is the expensive
    // part, and the pair list being materialized is tiny.
    val p = pairs.localCheckpoint()
    // DRIVER FAST PATH (guide §2 — the driver-bound fold pattern):
    // pair evidence within the union-find bound contracts in
    // microseconds on the driver, where the distributed loop pays
    // ~2 jobs per propagation round. Identical labels (DedupSpec pins
    // the loop against the union-find through the p123/p20 oracles);
    // oversized evidence falls through to the loop unchanged.
    val fast = driverClusters(docs, idCol, p, docsOnly = true, maxDriverEdges)
    if (fast.isDefined) return fast.get
    val e = p.select(col("d1").as("a"), col("d2").as("b"))
      .union(p.select(col("d2").as("a"), col("d1").as("b")))
      .localCheckpoint()
    var lbl = docs.select(col(idCol).as("doc_id"))
      .withColumn("lbl", col("doc_id")).localCheckpoint()
    // One propagation round per materialization: every round has the
    // same plan shape, so generated code compiles once and every later
    // round hits the codegen cache (a 3-rounds-per-checkpoint batch
    // benchmarked slower — the deeper fused plan recompiles).
    // Convergence detection: labels only ever decrease, so consecutive
    // label tables are equal iff their (bit_xor of xxhash64(doc, lbl))
    // fingerprints agree — one tiny aggregate over the checkpointed
    // table instead of a self-join + count per round (same device as
    // dedupClustersLogN; a 2^-64 collision would stall one round early
    // and surface in the differential oracle).
    def sig(df: DataFrame): Long = {
      val r = df.agg(bit_xor(xxhash64(col("doc_id"), col("lbl")))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var cur = sig(lbl)
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      val nbr = e.join(lbl, e("b") === lbl("doc_id"))
        .groupBy(col("a")).agg(min(col("lbl")).as("nl"))
      val next = lbl.join(nbr, lbl("doc_id") === nbr("a"), "left")
        .select(lbl("doc_id"),
                least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val nsig = sig(next)
      converged = nsig == cur
      cur = nsig
      lbl = next
      iter += 1
    }
    // Unconverged labels are silently wrong (a >maxRounds-diameter chain
    // would split one cluster into several) — fail loudly instead.
    if (!converged) {
      throw new IllegalStateException(
        s"dedupClusters did not converge after $maxRounds min-label rounds; " +
        "the pair graph has a component with diameter > maxRounds — raise " +
        "maxRounds or pre-contract the graph (large-star/small-star) " +
        "before labeling")
    }
    lbl.withColumnRenamed("lbl", "canonical")
  }

  /** Train/eval split that cannot leak near-duplicates across the
    * boundary: the assignment unit is the near-dup CLUSTER, not the
    * document. Splitting documents independently (p18-style) puts the
    * two halves of a duplicate pair on opposite sides ~2·p·(1−p) of
    * the time, silently inflating eval scores; hashing the cluster's
    * canonical id instead sends every member of a cluster to the same
    * side by construction.
    *
    * Map-only on top of [[dedupClusters]]' labels — the split itself
    * adds no shuffle. Membership is md5 of the canonical id (the p18
    * keyed-sample device: deterministic, engine-portable, stable
    * across reruns and cluster layouts) and composes with incremental
    * ingestion: a new member of an existing cluster inherits the
    * cluster's side; only a new cluster minimum can move one (the
    * min-label canonical's documented caveat).
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                    evalPct: Int = 10): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("canonical").cast("string")), 1, 7), 16, 10)
        .cast("long"), lit(100L))
    dedupClusters(docs, idCol, pairs)
      .select(col("doc_id"), col("canonical"),
        when(bucket < evalPct, lit("eval")).otherwise(lit("train")).as("split"))
  }

  /** Connected components via alternating large-star / small-star
    * contraction (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): O(log n) rounds
    * on ANY pair graph, vs diameter rounds for `dedupClusters`'s
    * min-label propagation — the scale path when near-dup chains can
    * be long (boilerplate gradients, crawl mirrors). Same output
    * contract: every doc labeled with its component's minimum id.
    *
    * The checksum is (count, bit_xor of per-edge xxhash64) — XOR is a
    * sound set fingerprint here because canon() keeps edges distinct,
    * and it cannot overflow under ANSI arithmetic.
    *
    * Per round: large-star links every strictly-larger neighbor of u
    * to m(u) = min(Γ(u) ∪ {u}); small-star then links every
    * smaller-or-equal neighbor (and u itself) to the min of that set.
    * Both steps are one groupBy(min) + one join on the symmetrized
    * edge list — the same shuffle shape each round, so codegen
    * compiles once. The fixed point is a forest of stars centered at
    * component minima. Convergence is detected by comparing a
    * (count, xxhash64-sum) checksum of consecutive edge sets — one
    * two-column aggregate over the already-checkpointed edges, far
    * cheaper than the two anti-joins a literal set-equality needs.
    * Canonicalized edge sets are equal iff their checksums agree
    * (modulo a 2^-64 hash-sum collision, which the oracle gate would
    * surface); the fixed point itself is unchanged.
    *
    * Seeding the loop with one min-label propagation pass was evaluated
    * and declined (round 4, measured by counting rounds per call on the
    * p20/p33 corpora): real near-dup pair graphs
    * are already star-shaped and reach the fixed point in 2 rounds
    * (1 contraction + 1 checksum-stable confirmation — the floor), so a
    * seed pass costs one extra round-shaped shuffle and can save at
    * most one round; on high-diameter graphs it still only halves the
    * first contraction's work against O(log n) total. Net negative at
    * every scale tested.
    */
  def dedupClustersLogN(docs: DataFrame, idCol: String, pairs: DataFrame,
                        maxRounds: Int = 40,
                        maxDriverEdges: Long = LabelStore.MaxDriverEdges): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
                greatest(col("u"), col("v")).as("v"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // the same driver fast path as [[dedupClusters]] — here it is
    // unconditionally exact: the star loop always bridged through
    // nodes outside `docs` (components are computed over the raw edge
    // graph, then restricted by the final left join), which is
    // precisely what the union-find does
    val p0 = pairs.select(col("d1"), col("d2")).localCheckpoint()
    val fast = driverClusters(docs, idCol, p0, docsOnly = false, maxDriverEdges)
    if (fast.isDefined) return fast.get
    var edges = canon(p0.select(col("d1").as("u"), col("d2").as("v")))
      .localCheckpoint()
    var sig = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      val s = sym(edges)
      val mLarge = s.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("lu"), least(col("mn"), col("u")).as("m"))
      // Large-star output keeps duplicates (they are harmless to the
      // small-star groupBy-min and join, and the round-final distinct
      // removes them) — skipping the mid-round distinct saves one
      // shuffle per round. It IS checkpointed: the subtree feeds the
      // small-star twice and recomputing it measured slower than the
      // materialization.
      // no v === m guard needed: m = least(min(Γ(u)), u) <= u < v, so
      // the emitted pair can never be a self-loop
      val afterLarge =
        s.filter(col("v") > col("u"))
          .join(mLarge, col("u") === col("lu"))
          .select(least(col("v"), col("m")).as("u"),
                  greatest(col("v"), col("m")).as("v"))
          .localCheckpoint()
      val smaller = sym(afterLarge).filter(col("v") < col("u"))
      val mSmall = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = canon(
        smaller.join(mSmall, Seq("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mSmall.select(col("u"), col("m").as("v"))))
        .localCheckpoint()
      val nsig = checksum(afterSmall)
      converged = nsig == sig
      sig = nsig
      edges = afterSmall
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"dedupClustersLogN did not reach its star fixed point after " +
        s"$maxRounds rounds — raise maxRounds (O(log n) rounds suffice " +
        "for any graph, so this indicates n far beyond the configured cap)")
    }
    val lbl = sym(edges).groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"),
              least(col("u"), col("mn")).as("canonical"))
    docs.select(col(idCol).as("doc_id"))
      .join(lbl, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("canonical"), col("doc_id")).as("canonical"))
  }

  /** Near-duplicate id pairs whose KEY strings are within Levenshtein
    * distance 1, via deletion-neighborhood blocking (FastSS): each key
    * emits itself plus its |k| single-character deletions, and any two
    * keys at distance ≤ 1 provably share a variant — equal keys share
    * the key itself, a substitution at position i shares the
    * i-deletion, an insertion/deletion shares the shorter key — so the
    * variant-bucket join is LOSSLESS blocking and the final exact
    * `levenshtein` filter only removes false candidates. The fuzzy-key
    * twin of the MinHash/SimHash paths for short structured keys
    * (titles, URLs, product ids) where one typo defeats exact dedup.
    *
    * Scale: shuffle is O(rows × (|k|+1)) short-string rows; pair
    * emission is the bucket groupBy device (no self-join, no O(n²)).
    * Hot buckets mean many keys one deletion apart — the usual LSH
    * degenerate-bucket caveat applies. Blocking is specific to
    * distance 1 (distance-d FastSS needs d-deletion neighborhoods),
    * which is why the radius is not a parameter.
    */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val vars = rebalance(df)
      .select(col(idCol).as("doc_id"), col(keyCol).as("k"))
      .select(col("doc_id"), col("k"), explode(expr(
        // i = 0 keeps the key itself; i >= 1 deletes character i.
        // distinct guards keys with repeated adjacent characters, whose
        // i- and (i+1)-deletions coincide and would duplicate the doc
        // inside its bucket (emitting self-pairs).
        "array_distinct(transform(sequence(0, length(k)), i -> " +
          "CASE WHEN i = 0 THEN k " +
          "ELSE concat(substring(k, 1, i - 1), substring(k, i + 1)) END))"))
        .as("v"))
    val lev = levenshtein(col("p.a.k"), col("p.b.k"))
    vars.groupBy(col("v"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("k")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(unorderedPairs(col("xs"))).as("p"))
      .filter(lev <= 1)
      .select(col("p.a.doc_id").as("d1"), col("p.b.doc_id").as("d2"),
              lev.cast("int").as("lev"))
      .distinct()
  }

  /** Number of simhash bits (60 = 15 hex chars of md5, fits a signed
    * long in every engine — deliberately under 64 so the oracle can use
    * a plain BIGINT hex cast).
    */
  val SimhashBits = 60

  /** Per-document 60-bit SimHash over tokens (with multiplicity):
    * bit j of the signature is the sign of the sum over tokens of
    * (2·bit_j(md5(token)) − 1). Computed as 60 parallel codegen'd
    * aggregates — one shuffle keyed by doc_id, map-side partial
    * aggregation keeps the shuffle proportional to docs, not tokens.
    * (An array-buffer TypedImperativeAggregate variant benchmarked 2×
    * slower on first execution: ObjectHashAggregate's interpreted
    * update loses more than the narrower generated code saves.)
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = rebalance(docs).select(col(idCol).as("doc_id"),
        explode(words(col(textCol))).as("word"))
      .withColumn("h", conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$j")
    }
    val sim = (0 until SimhashBits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokens.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found
    * via 4×15-bit band blocking (a pair within Hamming distance 3 of a
    * 60-bit signature must agree exactly on at least one of 4 bands —
    * pigeonhole), then exact Hamming verification. Same LSH-join scale
    * shape as MinHash: no O(n²) stage.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val s = simhash(docs, idCol, textCol)
    val banded = s.withColumn("band_i", explode(sequence(lit(0), lit(3))))
      .withColumn("band_v", expr("shiftright(simhash, 15 * band_i) & 32767"))
    // Bucket group-by instead of a self-join, same rationale as
    // minhashLshPairs: the 60-aggregate simhash pipeline executes once.
    // array_sort on struct(doc_id, simhash) orders by doc_id (unique),
    // so emitted pairs satisfy d1 < d2 deterministically.
    val ham = bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
    banded.groupBy(col("band_i"), col("band_v"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("xs"))
      .filter(size(col("xs")) > 1)
      .select(explode(unorderedPairs(col("xs"))).as("p"))
      .filter(ham <= maxHamming)
      .select(col("p.a.doc_id").as("d1"), col("p.b.doc_id").as("d2"), ham.as("hamming"))
      .distinct()
  }
}
