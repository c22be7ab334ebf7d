package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pipeline6, Similarity}
import graft.sources.{Bucketed, Maintenance}
import graft.streaming.StreamingOps

/** Takedown reaches RETRIEVAL: the dedup-store retraction family
  * (dedupRetractBatch and twins) is spec-pinned in StreamingSpec; this
  * suite pins the RETRIEVAL half — a withdrawn document must stop
  * being retrievable, with the surviving ranking bit-identical to a
  * from-scratch index of the surviving corpus (posting rows gone,
  * survivors' rows intact, BM25 stats decremented EXACTLY), plus the
  * pruned retractions of the shingle sidecar (the verified gate must
  * stop confirming against withdrawn docs) and the IVF-PQ codes store.
  */
class RetractionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val Terms = Seq("merge", "stream", "vector")

  /** 12-doc corpus where doc 7 is the runaway top hit for the query
    * terms — retracting it must change rank 1, not just drop a row.
    */
  private def corpus = Seq(
    (1L, "merge sort and stream processing"),
    (2L, "vector clocks in distributed systems"),
    (3L, "the quick brown fox"),
    (4L, "merge merge conflict resolution"),
    (5L, "stream of consciousness writing"),
    (6L, "support vector machines"),
    (7L, "merge merge merge stream stream vector vector vector"),
    (8L, "b tree index pages"),
    (9L, "log structured merge tree"),
    (10L, "vector stream merge pipeline"),
    (11L, "hash table probing"),
    (12L, "columnar storage layout"),
  ).toDF("doc_id", "text")

  private def survivors = corpus.filter(!col("doc_id").isin(7L, 10L))
  private def rmIds = Seq(7L, 10L).toDF("doc_id")

  test("lexical retraction: BM25 + phrase over survivors equal a from-scratch index; stats exact") {
    val t = "graft_spec_lexret_a"
    val ref = "graft_spec_lexret_a_ref"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    // the doc to be retracted ranks FIRST before the takedown
    val pre = Pipeline6.bm25TopKStored(spark, t, k = 5, terms = Terms).collect()
    assert(pre.head.getLong(0) === 7L, "fixture: doc 7 must rank 1 pre-takedown")

    val n = StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -2L)(rmIds)
    assert(n === 2L)

    Pipeline6.postingsWrite(survivors, ref, nBuckets = 4)
    val got = Pipeline6.bm25TopKStored(spark, t, k = 5, terms = Terms).collect()
    val want = Pipeline6.bm25TopKStored(spark, ref, k = 5, terms = Terms).collect()
    assert(got.toSeq === want.toSeq,
      "post-retraction BM25 must equal a from-scratch index of the survivors")
    assert(!got.exists(_.getLong(0) === 7L))

    val gotP = Pipeline6.phraseTopKStored(spark, t, Seq("merge", "merge"), 5).collect()
    val wantP = Pipeline6.phraseTopKStored(spark, ref, Seq("merge", "merge"), 5).collect()
    assert(gotP.toSeq === wantP.toSeq)

    // stats fold = survivors' exact (n, sdl): the negative row's long
    // arithmetic, not a recount
    val st = spark.table(s"${t}_stats")
      .agg(sum("n"), sum("sdl")).head()
    val sWs = survivors.select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0))
    assert(st.getLong(1) === sWs.getLong(1))
  }

  test("lexical retraction is replay-idempotent and its crash windows heal") {
    val t = "graft_spec_lexret_b"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)

    // window 1: stats row committed, rows still present (crash between
    // the halves) — emulated by appending the commit record by hand
    val dec = corpus.filter(col("doc_id").isin(7L, 10L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    spark.range(1)
      .select(lit(-2L).as("batch_id"), lit(-dec.getLong(0)).as("n"),
        lit(-dec.getLong(1)).as("sdl"))
      .write.mode("append").format("parquet").saveAsTable(s"${t}_stats")
    val statsRows0 = spark.table(s"${t}_stats").count()

    val n = StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -2L)(rmIds)
    assert(n === 0L, "stats half must skip on the committed record")
    assert(spark.table(s"${t}_stats").count() === statsRows0,
      "no double decrement")
    assert(spark.table(t).filter(col("doc_id").isin(7L, 10L)).isEmpty,
      "posting half must still run")

    // full replay: double no-op
    val n2 = StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -2L)(rmIds)
    assert(n2 === 0L)
    assert(spark.table(s"${t}_stats").count() === statsRows0)

    // window 2: a crashed bucket swap (live table gone, __compact is
    // the sole copy) must heal on entry, not wedge or lose data
    spark.sql(s"DROP TABLE IF EXISTS ${t}__compact")
    Bucketed.writeBucketed(spark.table(t).repartition(4, col("term")),
      s"${t}__compact", "term", 4)
    spark.sql(s"DROP TABLE $t")
    val n3 = StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -3L)(Seq(9L).toDF("doc_id"))
    assert(n3 === 1L)
    assert(spark.table(t).filter(col("doc_id") === 9L).isEmpty)
    // retractId namespace guard: ingest-range ids are refused loudly
    intercept[IllegalArgumentException] {
      StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
        retractId = -1L)(rmIds)
    }
  }

  private def zoneDirOf(table: String) = new java.io.File(
    Bucketed.tableLocation(spark, table).stripPrefix("file:") +
      "/_graft_tombstones")

  test("deferred lexical takedown: withdrawn docs stop ranking immediately; reads equal a from-scratch survivor index") {
    val t = "graft_spec_lexdef_a"
    val ref = "graft_spec_lexdef_a_ref"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    val pre = Pipeline6.bm25TopKStored(spark, t, k = 5, terms = Terms).collect()
    assert(pre.head.getLong(0) === 7L, "fixture: doc 7 must rank 1 pre-takedown")

    val n = StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(rmIds)
    assert(n === 2L)
    // DEFERRED: the rows are still physically present, only queued
    assert(spark.table(t).filter(col("doc_id").isin(7L, 10L)).count() > 0L,
      "deferred: posting rows should still be on disk until compaction")
    assert(zoneDirOf(t).exists())

    // every stored probe family is tombstone-aware — reads over the
    // deferred state equal a from-scratch index of the survivors
    Pipeline6.postingsWrite(survivors, ref, nBuckets = 4)
    assert(Pipeline6.bm25TopKStored(spark, t, 5, Terms).collect().toSeq ===
      Pipeline6.bm25TopKStored(spark, ref, 5, Terms).collect().toSeq)
    assert(Pipeline6.phraseTopKStored(spark, t, Seq("merge", "merge"), 5)
      .collect().toSeq ===
      Pipeline6.phraseTopKStored(spark, ref, Seq("merge", "merge"), 5)
        .collect().toSeq)
    assert(Pipeline6.proximityTopKStored(spark, t, "merge", "stream", 6, 5)
      .collect().toSeq ===
      Pipeline6.proximityTopKStored(spark, ref, "merge", "stream", 6, 5)
        .collect().toSeq)

    // the stats fold ALREADY equals the survivors' exact (n, sdl): the
    // negative commit record lands at queue time, not at compaction
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = survivors.select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0))
    assert(st.getLong(1) === sWs.getLong(1))

    // replay: no double decrement, the zone does not grow
    val statsRows = spark.table(s"${t}_stats").count()
    assert(StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(rmIds) === 0L)
    assert(spark.table(s"${t}_stats").count() === statsRows)
    assert(spark.read.parquet(zoneDirOf(t).toString).count() === 2L)
  }

  test("deferred lexical crash windows heal; overlapping batches decrement only genuinely-new ids") {
    val t = "graft_spec_lexdef_b"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)

    // window: stats record committed, crash before the zone append —
    // the retry must skip the decrement and still queue the batch
    val dec = corpus.filter(col("doc_id").isin(7L, 10L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    spark.range(1)
      .select(lit(-2L).as("batch_id"), lit(-dec.getLong(0)).as("n"),
        lit(-dec.getLong(1)).as("sdl"))
      .write.mode("append").format("parquet").saveAsTable(s"${t}_stats")
    val statsRows0 = spark.table(s"${t}_stats").count()
    assert(StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(rmIds) === 0L,
      "stats half must skip on the committed record")
    assert(spark.table(s"${t}_stats").count() === statsRows0)
    assert(zoneDirOf(t).exists(), "zone half must still run")
    assert(!Pipeline6.bm25TopKStored(spark, t, 12, Terms).collect()
      .exists(r => r.getLong(0) == 7L || r.getLong(0) == 10L))

    // an OVERLAPPING second batch {10, 9}: 10 is already pending (its
    // decrement landed with batch -2), so only 9's stats move
    assert(StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -3L, compactMaxFiles = 0)(Seq(10L, 9L).toDF("doc_id"))
      === 1L)
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = corpus.filter(!col("doc_id").isin(7L, 10L, 9L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0), "no double decrement of 10")
    assert(st.getLong(1) === sWs.getLong(1))
    assert(spark.read.parquet(zoneDirOf(t).toString).count() === 3L)

    // retractId namespace guard, same as the eager twin
    intercept[IllegalArgumentException] {
      StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
        retractId = 0L)(rmIds)
    }
  }

  test("bucketed compaction applies pending lexical tombstones; the zone-count trigger bounds the read tax") {
    val t = "graft_spec_lexdef_c"
    val ref = "graft_spec_lexdef_c_ref"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(rmIds)
    // one queued batch: the zone half of the trigger stays quiet
    assert(!Bucketed.compactIfDueBucketed(spark, t, "term", 4,
      maxFiles = 64, maxTombstoneFiles = 8))
    // ...but a QUEUE of takedowns makes the compaction due on the
    // zone's file count alone (ids need not exist — only the count)
    val loc = Bucketed.tableLocation(spark, t)
    (0 until 9).foreach { i =>
      Maintenance.tombstoneAppend(spark, loc,
        Seq(1000L + i).toDF("doc_id"), "doc_id")
    }
    assert(Bucketed.compactIfDueBucketed(spark, t, "term", 4,
      maxFiles = 64, maxTombstoneFiles = 8))
    // physically gone — a RAW table scan proves it — zone retired with
    // the old table directory, stats untouched (they landed at queue
    // time), reads unchanged
    assert(spark.table(t).filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(!zoneDirOf(t).exists())
    Pipeline6.postingsWrite(survivors, ref, nBuckets = 4)
    assert(Pipeline6.bm25TopKStored(spark, t, 5, Terms).collect().toSeq ===
      Pipeline6.bm25TopKStored(spark, ref, 5, Terms).collect().toSeq)
  }

  test("eager lexical removal applies pending tombstones too (no resurrection on mixed use)") {
    val t = "graft_spec_lexdef_d"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    // doc 7 queued deferred; an EAGER takedown of {7, 10} then rewrites
    // the store — its swap retires the zone, so 7's rows must leave
    // with it (no resurrection) AND 7's stats must not decrement AGAIN
    // (its decrement landed when it was queued): the eager derivation
    // excludes the pending set exactly like the deferred twin's
    StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(Seq(7L).toDF("doc_id"))
    val n = StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -3L)(Seq(7L, 10L).toDF("doc_id"))
    assert(n === 1L, "only doc 10 is genuinely new to this takedown")
    assert(spark.table(t).filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(!zoneDirOf(t).exists())
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = survivors.select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0), "no double decrement of 7")
    assert(st.getLong(1) === sWs.getLong(1))
  }

  test("admission guard: a stranded takedown refuses overlapping admissions until its retry completes") {
    val t = "graft_spec_lexguard"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    // strand batch -2 {7,10} in the stats→zone window: the handler dies
    // right after its stats commit record lands (the one window where
    // "already decremented" is not yet observable through the zone)
    CrashPoints.arm(0)
    try intercept[CrashPoints.InjectedCrash] {
      StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
        retractId = -2L, compactMaxFiles = 0)(rmIds)
    } finally CrashPoints.disarm()
    assert(StreamingOps.unfinishedRetractions(spark, t) === Seq(-2L))

    // a DIFFERENT batch overlapping the stranded one must be refused by
    // BOTH forms — admitted, it would re-derive doc 10 as "new" (rows
    // present, zone entry missing) and decrement it a second time
    intercept[IllegalStateException] {
      StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
        retractId = -3L, compactMaxFiles = 0)(Seq(10L, 9L).toDF("doc_id"))
    }
    intercept[IllegalStateException] {
      StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
        retractId = -3L)(Seq(10L, 9L).toDF("doc_id"))
    }

    // the stranded batch's own retry is admitted, completes, clears the
    // ledger...
    assert(StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -2L, compactMaxFiles = 0)(rmIds) === 0L)
    assert(StreamingOps.unfinishedRetractions(spark, t).isEmpty)
    // ...after which the second batch admits and decrements ONLY the
    // genuinely-new doc 9 — exactly-once stats despite the overlap+crash
    assert(StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
      retractId = -3L, compactMaxFiles = 0)(Seq(10L, 9L).toDF("doc_id"))
      === 1L)
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = corpus.filter(!col("doc_id").isin(7L, 10L, 9L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0), "doc 10 double-decremented")
    assert(st.getLong(1) === sWs.getLong(1))
  }

  test("ledger adoption: a pre-ledger store's historical commit records stop refusing admissions after the one-time migration") {
    val t = "graft_spec_lexadopt"
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    // a LEGACY store: two takedowns completed under a ledger-less build
    // — their stats commit records exist, their posting rows are gone,
    // and there is no _retract_done table. Emulated by running the
    // takedowns and then dropping the ledger the current build wrote.
    assert(StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -2L)(Seq(7L).toDF("doc_id")) === 1L)
    assert(StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -3L)(Seq(10L).toDF("doc_id")) === 1L)
    spark.sql(s"DROP TABLE ${t}_retract_done")
    // upgraded as-is, the guard sees every historical batch as stranded
    // and refuses ALL new takedowns — the migration hazard, pinned
    assert(StreamingOps.unfinishedRetractions(spark, t).toSet
      === Set(-2L, -3L))
    intercept[IllegalStateException] {
      StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
        retractId = -4L)(Seq(9L).toDF("doc_id"))
    }
    // the one-time adoption backfills exactly the historical ids...
    assert(StreamingOps.adoptRetractionLedger(spark, t).toSet
      === Set(-2L, -3L))
    assert(StreamingOps.unfinishedRetractions(spark, t).isEmpty)
    // ...and is idempotent
    assert(StreamingOps.adoptRetractionLedger(spark, t).isEmpty)
    // new takedowns admit and stay exactly-once
    assert(StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      retractId = -4L)(Seq(9L).toDF("doc_id")) === 1L)
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = corpus.filter(!col("doc_id").isin(7L, 10L, 9L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0))
    assert(st.getLong(1) === sWs.getLong(1))
  }

  test("sidecar retraction is bucket-pruned and the verified gate stops confirming withdrawn docs") {
    // ids chosen so doc 19 is ALONE in its bucket (19 mod 8 = 3): its
    // retraction must DELETE the bucket directory outright
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (8L, "p q r s t u v w"),
      (9L, "p q r s t u v y"),
      (16L, "m n o aa bb cc dd ee"),
      (19L, "zz yy xx ww vv uu tt ss"),
    ).toDF("doc_id", "text")
    val side = java.nio.file.Files.createTempDirectory("ret_side_").toString
    Dedup.shingleStoreWrite(
      Dedup.shingleSidecarRows(docs, "doc_id", "text", n = 3), side,
      nBuckets = 8)

    // a re-upload of doc 19's content confirms against the sidecar...
    val q = Seq((100L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val qSh = Dedup.shingleSidecarRows(q, "doc_id", "text", n = 3)
      .select(col("doc_id").as("qid"), col("sh"))
    val cand = Seq((100L, 19L)).toDF("qid", "doc_id")
    assert(Dedup.lshVerifyStored(spark, side, cand, qSh, tau = 0.9,
      nBuckets = 8).count() === 1L)

    val untouched = new java.io.File(s"$side/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq
    assert(Maintenance.removePrunedRows(spark, side,
      Seq(19L).toDF("doc_id"), "doc_id", "bucket", Some("doc_id")))

    // ...and no longer does once the shingle rows leave
    assert(Dedup.lshVerifyStored(spark, side, cand, qSh, tau = 0.9,
      nBuckets = 8).isEmpty)
    // pruned: buckets without a retracted row keep their exact files
    val after = new java.io.File(s"$side/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq
    assert(after === untouched, "untouched bucket rewritten")
    // emptied: doc 19's whole bucket directory is gone
    assert(!new java.io.File(s"$side/bucket=3").exists())
    // replay converges
    assert(!Maintenance.removePrunedRows(spark, side,
      Seq(19L).toDF("doc_id"), "doc_id", "bucket", Some("doc_id")))
  }

  test("Engine.takedownText clears every text store a deployment keeps, idempotently") {
    import graft.operators.LabelStore
    val lsh = java.nio.file.Files.createTempDirectory("tdx_lsh_").toString
    val lbl = java.nio.file.Files.createTempDirectory("tdx_lbl_").toString
    val side = java.nio.file.Files.createTempDirectory("tdx_side_").toString
    val t = "graft_spec_tdx_postings"
    Dedup.lshStoreWrite(Dedup.lshSignatureRows(corpus, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4), lsh)
    LabelStore.write(Dedup.dedupClusters(corpus, "doc_id",
      Dedup.minhashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4)), lbl)
    Dedup.shingleStoreWrite(
      Dedup.shingleSidecarRows(corpus, "doc_id", "text", n = 3), side)
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)

    val n = Engine.takedownText(spark, rmIds, lsh, lbl,
      sidecarPath = Some(side), postingTable = Some(t),
      postingBuckets = 4)
    assert(n === 2L)
    // invisible through every store: labels, signatures, shingles,
    // postings — and therefore through every probe path
    assert(LabelStore.read(spark, lbl)
      .filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(spark.read.parquet(lsh)
      .filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(spark.read.parquet(side)
      .filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(spark.table(t).filter(col("doc_id").isin(7L, 10L)).isEmpty)
    assert(!Pipeline6.bm25TopKStored(spark, t, k = 12, terms = Terms)
      .collect().exists(r => Seq(7L, 10L).contains(r.getLong(0))))
    // the composition is a no-op on replay
    assert(Engine.takedownText(spark, rmIds, lsh, lbl,
      sidecarPath = Some(side), postingTable = Some(t),
      postingBuckets = 4) === 0L)
    // the deferred spelling: a further takedown tombstones instead of
    // rewriting, and the withdrawn doc is equally invisible
    assert(Engine.takedownText(spark, Seq(4L).toDF("doc_id"), lsh, lbl,
      deferred = true) === 1L)
    assert(spark.read.parquet(lsh).filter(col("doc_id") === 4L).count() === 4L,
      "deferred facade should tombstone, not rewrite")
    assert(graft.operators.LabelStore.read(spark, lbl)
      .filter(col("doc_id") === 4L).isEmpty)
    assert(Dedup.lshPairsFromStore(spark, lsh)
      .filter(col("d1") === 4L || col("d2") === 4L).isEmpty)
  }

  test("successive takedowns each land their stats decrement (content-derived retraction ids)") {
    val lsh = java.nio.file.Files.createTempDirectory("tdx2_lsh_").toString
    val lbl = java.nio.file.Files.createTempDirectory("tdx2_lbl_").toString
    val t = "graft_spec_tdx2_postings"
    Dedup.lshStoreWrite(sigsOf(corpus), lsh)
    graft.operators.LabelStore.write(
      Dedup.dedupClusters(corpus, "doc_id",
        Dedup.minhashLshPairs(corpus, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4)), lbl)
    Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    // two DISTINCT takedown batches through the one-call facade, both
    // on the default (content-derived) retraction id — the second
    // decrement must land, not silently skip on a reused commit record
    Engine.takedownText(spark, Seq(7L).toDF("doc_id"), lsh, lbl,
      postingTable = Some(t), postingBuckets = 4)
    Engine.takedownText(spark, Seq(10L).toDF("doc_id"), lsh, lbl,
      postingTable = Some(t), postingBuckets = 4)
    val st = spark.table(s"${t}_stats").agg(sum("n"), sum("sdl")).head()
    val sWs = corpus.filter(!col("doc_id").isin(7L, 10L))
      .select(size(split(col("text"), " ")).as("dl"))
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === sWs.getLong(0))
    assert(st.getLong(1) === sWs.getLong(1))
    // same-batch retry still converges on one commit record
    assert(StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
      StreamingOps.retractIdFor(Seq(10L).toDF("doc_id")))(
      Seq(10L).toDF("doc_id")) === 0L)
    assert(spark.table(s"${t}_stats").agg(sum("n")).head().getLong(0) ===
      sWs.getLong(0))
    // a mis-stated bucket count must fail loudly, not re-bucket
    intercept[IllegalArgumentException] {
      graft.sources.Bucketed.removeBucketedRows(spark, t, "term", 8,
        Seq(9L).toDF("doc_id"), "doc_id")
    }
  }

  /** Near-dup fixture for the deferred path: 7 and 107 are exact
    * copies (an LSH pair at any banding), so withdrawing 7 exercises
    * both the gate probe and the pair derivation.
    */
  private def dupCorpus = corpus.union(
    Seq((107L, "merge merge merge stream stream vector vector vector"))
      .toDF("doc_id", "text"))

  private def sigsOf(docs: org.apache.spark.sql.DataFrame) =
    Dedup.lshSignatureRows(docs, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4)

  test("deferred takedown: tombstoned docs stop matching immediately; labels equal the eager twin") {
    import graft.operators.LabelStore
    def build(tag: String): (String, String) = {
      val lsh = java.nio.file.Files.createTempDirectory(s"def_${tag}_lsh_").toString
      val lbl = java.nio.file.Files.createTempDirectory(s"def_${tag}_lbl_").toString
      Dedup.lshStoreWrite(sigsOf(dupCorpus), lsh)
      LabelStore.write(Dedup.dedupClusters(dupCorpus, "doc_id",
        Dedup.minhashLshPairs(dupCorpus, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4)), lbl)
      (lsh, lbl)
    }
    val (dLsh, dLbl) = build("d"); val (eLsh, eLbl) = build("e")
    val rm = Seq(7L).toDF("doc_id")
    // a re-upload of doc 7's content gate-matches the store before...
    val probe = sigsOf(Seq((999L, "merge merge merge stream stream vector vector vector"))
      .toDF("doc_id", "text"))
    def hits(lsh: String) = Dedup.lshProbeStoredDF(spark, lsh, probe)
      .filter(col("doc_id") === 7L).count()
    assert(hits(dLsh) === 1L)

    assert(StreamingOps.dedupRetractDeferred(spark, dLsh, dLbl)(rm) === 1L)
    assert(StreamingOps.dedupRetractBatch(spark, eLsh, eLbl)(rm) === 1L)

    // ...and stops the moment the tombstone is queued, on BOTH probe
    // forms, even though the rows are still physically present
    assert(hits(dLsh) === 0L)
    val sigs7 = sigsOf(dupCorpus.filter(col("doc_id") === 7L))
      .collect().map(r => (999L, r.getInt(1), r.getLong(2))).toSeq
    assert(!Dedup.lshProbeStored(spark, dLsh, sigs7)
      .collect().exists(_.getLong(1) === 7L))
    assert(spark.read.parquet(dLsh).filter(col("doc_id") === 7L).count() === 4L,
      "deferred: rows should still be on disk until compaction")
    // pair derivation excludes the pending set; labels match the eager
    // handler exactly
    assert(Dedup.lshPairsFromStore(spark, dLsh)
      .filter(col("d1") === 7L || col("d2") === 7L).isEmpty)
    assert(LabelStore.read(spark, dLbl).orderBy("doc_id").collect().toSeq ===
      LabelStore.read(spark, eLbl).orderBy("doc_id").collect().toSeq)
    // replay: no growth, no change
    assert(StreamingOps.dedupRetractDeferred(spark, dLsh, dLbl)(rm) === 0L)
    val zone = spark.read.parquet(s"$dLsh/_graft_tombstones")
    assert(zone.count() === 1L)
  }

  test("compaction applies pending tombstones physically and retires the zone") {
    val lsh = java.nio.file.Files.createTempDirectory("def_cmp_lsh_").toString
    Dedup.lshStoreWrite(sigsOf(dupCorpus), lsh)
    Maintenance.tombstoneAppend(spark, lsh, Seq(7L).toDF("doc_id"), "doc_id")
    // the scheduled compactor's exact sequence: rewrite to __compact,
    // checked-rename swap (compactIfDue's body)
    Dedup.lshStoreCompact(spark, lsh, s"${lsh}__compact")
    StreamingOps.swapInCompacted(spark, lsh)
    // physically gone — a RAW scan (no tombstone filter) proves it —
    // and the zone evaporated with the old store copy
    assert(spark.read.parquet(lsh).filter(col("doc_id") === 7L).isEmpty)
    assert(!new java.io.File(s"$lsh/_graft_tombstones").exists())
    // probe parity with a from-scratch store of the survivors
    val ref = java.nio.file.Files.createTempDirectory("def_cmp_ref_").toString
    Dedup.lshStoreWrite(sigsOf(dupCorpus.filter(col("doc_id") =!= 7L)), ref)
    val probe = sigsOf(Seq((999L, "merge merge merge stream stream vector vector vector"))
      .toDF("doc_id", "text"))
    assert(Dedup.lshProbeStoredDF(spark, lsh, probe).orderBy("doc_id")
      .collect().toSeq ===
      Dedup.lshProbeStoredDF(spark, ref, probe).orderBy("doc_id")
        .collect().toSeq)
  }

  test("the compaction trigger fires on accumulated tombstones, bounding the deferred read tax") {
    val lsh = java.nio.file.Files.createTempDirectory("def_trig_lsh_").toString
    Dedup.lshStoreWrite(sigsOf(dupCorpus), lsh)
    // a freshly built store: one file per band, the sliver half of the
    // trigger is quiet — and stays quiet after one takedown
    Maintenance.tombstoneAppend(spark, lsh, Seq(7L).toDF("doc_id"), "doc_id")
    assert(!StreamingOps.compactIfDue(spark, lsh, "band", maxFiles = 64)(
      (s, d) => Dedup.lshStoreCompact(spark, s, d)))
    assert(new java.io.File(s"$lsh/_graft_tombstones").exists())
    // ...but a queue of deferred takedowns makes the compaction due on
    // the ZONE's file count alone, applying them and retiring the zone
    (0 until 20).foreach { i =>
      Maintenance.tombstoneAppend(spark, lsh,
        Seq(1000L + i).toDF("doc_id"), "doc_id")
    }
    assert(StreamingOps.compactIfDue(spark, lsh, "band", maxFiles = 64)(
      (s, d) => Dedup.lshStoreCompact(spark, s, d)))
    assert(!new java.io.File(s"$lsh/_graft_tombstones").exists())
    assert(spark.read.parquet(lsh).filter(col("doc_id") === 7L).isEmpty)
  }

  test("eager removal applies pending tombstones too (no resurrection on mixed use)") {
    val lsh = java.nio.file.Files.createTempDirectory("def_mix_lsh_").toString
    Dedup.lshStoreWrite(sigsOf(dupCorpus), lsh)
    Maintenance.tombstoneAppend(spark, lsh, Seq(7L).toDF("doc_id"), "doc_id")
    // an EAGER removal of a different doc rewrites the store and its
    // swap retires the zone — the pending id's rows must leave with it
    Maintenance.removePartitionedRows(spark, lsh,
      Seq(9L).toDF("doc_id"), "doc_id", "band", "sig_h")
    assert(spark.read.parquet(lsh)
      .filter(col("doc_id").isin(7L, 9L)).isEmpty)
    assert(!new java.io.File(s"$lsh/_graft_tombstones").exists())
  }

  test("frame-store tombstones: the video gate stops matching a withdrawn clip immediately") {
    import graft.operators.Multimodal
    val store = java.nio.file.Files.createTempDirectory("def_vid_").toString
    // two 2-frame clips: 1 and 2 are near-identical (hamming 0)
    val frames = Seq(
      (1L, 0, 2, 0x1111L), (1L, 1, 2, 0x2222L),
      (2L, 0, 2, 0x1111L), (2L, 1, 2, 0x2222L),
      (3L, 0, 2, 0x7f00L), (3L, 1, 2, 0x0f0fL),
    ).toDF("doc_id", "frame", "n_frames", "fhash")
    Multimodal.frameStoreWrite(
      frames.select(col("doc_id"), col("frame"), col("fhash")), store)
    val arriving = frames.filter(col("doc_id") === 2L)
      .localCheckpoint()
    def gate() = Multimodal.videoNearDupStored(spark, store, arriving)
      .filter(col("dup_of") === 1L).count()
    assert(gate() === 1L)
    Maintenance.tombstoneAppend(spark, store, Seq(1L).toDF("doc_id"), "doc_id")
    assert(gate() === 0L, "withdrawn clip still gate-matches")
    assert(Multimodal.frameProbeStoredDF(spark, store,
        arriving.filter(col("frame") === 0)
          .select(col("doc_id").as("qid"), col("fhash").as("qhash")))
      .filter(col("doc_id") === 1L).isEmpty)
  }

  test("video deferred takedown: labels equal the eager twin, clip invisible, store rewrite deferred") {
    import graft.operators.{LabelStore, Multimodal}
    // clips 1/2 duplicate each other; 3 is alone; withdraw 1
    val frames = Seq(
      (1L, 0, 2, 0x1111L), (1L, 1, 2, 0x2222L),
      (2L, 0, 2, 0x1111L), (2L, 1, 2, 0x2222L),
      (3L, 0, 2, 0x7f00L), (3L, 1, 2, 0x0f0fL),
    ).toDF("doc_id", "frame", "n_frames", "fhash").localCheckpoint()
    def build(tag: String): (String, String) = {
      val store = java.nio.file.Files.createTempDirectory(s"vdef_${tag}_s_").toString
      val lbl = java.nio.file.Files.createTempDirectory(s"vdef_${tag}_l_").toString
      Multimodal.frameStoreWrite(
        frames.select(col("doc_id"), col("frame"), col("fhash")), store)
      LabelStore.write(
        LabelStore.labelsFor(frames.select(col("doc_id")).distinct(),
          Multimodal.videoNearDupPairs(frames, maxHamming = 3)
            .select(col("d1"), col("d2"))), lbl)
      (store, lbl)
    }
    val (dS, dL) = build("d"); val (eS, eL) = build("e")
    val rm = Seq(1L).toDF("doc_id")
    assert(StreamingOps.videoRetractDeferred(spark, dS, dL)(rm) === 1L)
    assert(StreamingOps.videoRetractBatch(spark, eS, eL)(rm) === 1L)
    assert(LabelStore.read(spark, dL).orderBy("doc_id").collect().toSeq ===
      LabelStore.read(spark, eL).orderBy("doc_id").collect().toSeq)
    // deferred store still holds the rows; eager one does not
    assert(spark.read.parquet(dS).filter(col("doc_id") === 1L).count() > 0)
    assert(spark.read.parquet(eS).filter(col("doc_id") === 1L).isEmpty)
    // but the gate treats both identically: a congruent later arrival
    // matches neither store's withdrawn clip
    val arriving = frames.filter(col("doc_id") === 2L)
    Seq(dS, eS).foreach { s =>
      assert(Multimodal.videoNearDupStored(spark, s, arriving)
        .filter(col("dup_of") === 1L).isEmpty)
    }
    // the next compaction applies the deferred half physically
    Multimodal.frameStoreCompact(spark, dS, s"${dS}__compact")
    StreamingOps.swapInCompacted(spark, dS)
    assert(spark.read.parquet(dS).filter(col("doc_id") === 1L).isEmpty)
    assert(!new java.io.File(s"$dS/_graft_tombstones").exists())
  }

  test("retrain/rebuild applies pending IVF tombstones (no resurrection, trains on survivors)") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val cents = Similarity.seedCentroids(emb, 8)
    val ivf = java.nio.file.Files.createTempDirectory("rtz_ivf_").toString
    val ref = java.nio.file.Files.createTempDirectory("rtz_ref_").toString
    Similarity.ivfWrite(emb, cents, ivf)
    val rm = emb.filter(pmod(col("vec_id"), lit(10L)) === 3L)
      .select(col("vec_id"))
    Maintenance.tombstoneAppend(spark, ivf, rm, "vec_id")
    // the drift-triggered rebuild is the OTHER full rewrite-and-swap of
    // this store family: its swap retires the zone, so the rewrite must
    // drop the queued rows (and train on survivors) or deferred
    // takedowns silently resurrect with their pending record destroyed
    val retrained = StreamingOps.ivfRetrainRebuild(spark, ivf, cents,
      rounds = 2)
    assert(spark.read.parquet(ivf).join(rm, Seq("vec_id"), "left_semi")
      .isEmpty, "rebuild resurrected tombstoned vectors")
    assert(!new java.io.File(s"$ivf/_graft_tombstones").exists(),
      "zone should retire with the old store copy")
    // the retrained model equals a from-scratch warm-start retrain of
    // the SURVIVORS — the rebuild must not train on withdrawn mass
    val surv = emb.join(rm, Seq("vec_id"), "left_anti")
    Similarity.ivfWrite(surv, cents, ref)
    val refModel = StreamingOps.ivfRetrainRebuild(spark, ref, cents,
      rounds = 2)
    assert(retrained.toSeq === refModel.toSeq,
      "retrain saw the tombstoned vectors")
  }

  test("vector deferred takedown: labels equal the eager twin, vector unrankable through every probe, store rewrite deferred") {
    import graft.operators.LabelStore
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Pipeline6.pqCodebook(emb)
    def build(tag: String): (String, String) = {
      val ivf = java.nio.file.Files.createTempDirectory(s"vdef2_${tag}_i_").toString
      val lbl = java.nio.file.Files.createTempDirectory(s"vdef2_${tag}_l_").toString
      Similarity.ivfWrite(emb, cents, ivf)
      LabelStore.write(
        LabelStore.labelsFor(emb.select(col("vec_id").as("doc_id")),
          Similarity.cellBlockedTauPairs(emb, cents, 0.3,
            nProbe = cents.length)),
        lbl)
      (ivf, lbl)
    }
    val (dIvf, dLbl) = build("d"); val (eIvf, eLbl) = build("e")
    val rm = emb.filter(pmod(col("vec_id"), lit(10L)) === 3L)
      .select(col("vec_id")).localCheckpoint()
    val nD = StreamingOps.vectorRetractDeferred(spark, dIvf, dLbl, cents,
      tau = 0.3, nProbe = cents.length)(rm)
    val nE = StreamingOps.vectorRetractBatch(spark, eIvf, eLbl, cents,
      tau = 0.3, nProbe = cents.length)(rm)
    assert(nD === nE && nD === rm.count())
    // labels identical to the eager twin's; deferred rows still on disk
    assert(LabelStore.read(spark, dLbl).orderBy("doc_id").collect().toSeq ===
      LabelStore.read(spark, eLbl).orderBy("doc_id").collect().toSeq)
    assert(spark.read.parquet(dIvf).join(rm, Seq("vec_id"), "left_semi")
      .count() > 0L, "deferred: rows should stay on disk until compaction")
    // ...but unrankable NOW through every stored probe form, at full
    // fan-out, exactly as through the eager store
    val qs = emb.filter(col("vec_id").isin(1L, 2L)).localCheckpoint()
    def gotIds(ivf: String): Set[Long] =
      Similarity.ivfTopKStored(spark, ivf, qs, cents, k = 1000, nProbe = 8)
        .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(gotIds(dIvf) === gotIds(eIvf))
    assert(!gotIds(dIvf).exists(_ % 10L === 3L))
    assert(Similarity.ivfProbeNearDup(spark, dIvf, qs, cents, tau = 0.3,
        nProbe = 8).filter(pmod(col("cid"), lit(10L)) === 3L).isEmpty)
    // replay: no label change, the zone does not grow
    assert(StreamingOps.vectorRetractDeferred(spark, dIvf, dLbl, cents,
      tau = 0.3, nProbe = cents.length)(rm) === 0L)
    assert(spark.read.parquet(s"$dIvf/_graft_tombstones").count() === rm.count())
    // one queued batch: the zone half of the compaction trigger stays
    // quiet (the read tax is bounded, not zero)...
    assert(!StreamingOps.compactIfDue(spark, dIvf, "cell", maxFiles = 64,
      maxTombstoneFiles = 8)(
      (src, dst) => Maintenance.compactPartitioned(spark, src, dst, "cell")))
    // ...but a QUEUE of takedowns makes it due on the zone's file count
    // alone, and the tombstone-aware rewrite applies them physically,
    // retiring the zone with the old store copy
    (0 until 9).foreach { i =>
      Maintenance.tombstoneAppend(spark, dIvf,
        Seq(100000L + i).toDF("vec_id"), "vec_id")
    }
    assert(StreamingOps.compactIfDue(spark, dIvf, "cell", maxFiles = 64,
      maxTombstoneFiles = 8)(
      (src, dst) => Maintenance.compactPartitioned(spark, src, dst, "cell")))
    assert(spark.read.parquet(dIvf).join(rm, Seq("vec_id"), "left_semi").isEmpty)
    assert(!new java.io.File(s"$dIvf/_graft_tombstones").exists())
    assert(gotIds(dIvf) === gotIds(eIvf), "post-compaction probe parity")
  }

  test("a takedown-ONLY store bounds its own read tax: the deferred handlers run the zone-count trigger inline") {
    // the round-15 advisory gap: a store that only ever takes deferred
    // takedowns has no ingest handler consulting compactIfDue, so the
    // zone (and the readers' anti-join tax) grew unboundedly. The
    // deferred handlers now check the trigger themselves — drive one
    // takedown per batch past the bound with NO ingest in sight and the
    // handler itself must pay the applying compaction.
    import graft.operators.LabelStore
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val cents = Similarity.seedCentroids(emb, 8)
    val ivf = java.nio.file.Files.createTempDirectory("vdef_trig_i_").toString
    val lbl = java.nio.file.Files.createTempDirectory("vdef_trig_l_").toString
    Similarity.ivfWrite(emb, cents, ivf)
    LabelStore.write(
      LabelStore.labelsFor(emb.select(col("vec_id").as("doc_id")),
        Similarity.cellBlockedTauPairs(emb, cents, 0.3,
          nProbe = cents.length)),
      lbl)
    val zone = new java.io.File(s"$ivf/_graft_tombstones")
    def zoneFiles: Int =
      if (!zone.exists()) 0
      else zone.listFiles().count(_.getName.endsWith(".parquet"))
    // one zone file per takedown batch: the queue must never exceed the
    // bound by more than the one batch that crosses it — each crossing
    // pays the applying compaction INSIDE the handler
    (0 until 7).foreach { i =>
      StreamingOps.vectorRetractDeferred(spark, ivf, lbl, cents,
        tau = 0.3, nProbe = cents.length, maxTombstoneFiles = 2)(
        Seq(10L + i).toDF("vec_id"))
      assert(zoneFiles <= 2,
        s"takedown $i left ${zoneFiles} zone files past the bound — " +
          "the handler never fired the zone-count trigger")
    }
    // 7 takedowns at bound 2 → the trigger fired at batches 3 and 6,
    // physically applying everything queued up to each crossing
    assert(zoneFiles === 1, "expected exactly the post-crossing batch queued")
    assert(spark.read.parquet(ivf)
      .filter(col("vec_id").isin(10L, 11L, 12L, 13L, 14L, 15L)).isEmpty,
      "the applying compaction left queued rows behind")
  }

  test("deferred codes takedown: a withdrawn vector stops ranking through the compressed index immediately") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Pipeline6.pqCodebook(emb)
    val codes = java.nio.file.Files.createTempDirectory("cdef_codes_").toString
    Pipeline6.ivfPqWrite(cents, cb, emb, codes)
    val rm = emb.filter(pmod(col("vec_id"), lit(10L)) === 3L)
      .select(col("vec_id"))
    Maintenance.tombstoneAppend(spark, codes, rm, "vec_id")
    val qs = emb.filter(col("vec_id").isin(1L, 2L))
    val got = Pipeline6.ivfPqTopKStored(spark, codes, qs, cents, cb,
      k = 1000, nProbe = 8).collect()
    assert(!got.exists(_.getLong(1) % 10L === 3L),
      "tombstoned code rows still rank")
    // parity with a from-scratch codes store of the survivors
    val ref = java.nio.file.Files.createTempDirectory("cdef_ref_").toString
    Pipeline6.ivfPqWrite(cents, cb, emb.join(rm, Seq("vec_id"), "left_anti"), ref)
    assert(got.toSeq === Pipeline6.ivfPqTopKStored(spark, ref, qs, cents,
      cb, k = 1000, nProbe = 8).collect().toSeq)

    // the RESIDUAL codes twin honors the same reader invariant (it was
    // the one cell-layout codes reader the round-15 self-review caught
    // without the anti-join)
    val rcb = Pipeline6.pqResidualCodebook(cents, emb)
    val rstore = java.nio.file.Files.createTempDirectory("cdef_res_").toString
    val rref = java.nio.file.Files.createTempDirectory("cdef_rref_").toString
    Pipeline6.ivfPqResidualWrite(cents, rcb, emb, rstore)
    Maintenance.tombstoneAppend(spark, rstore, rm, "vec_id")
    Pipeline6.ivfPqResidualWrite(cents, rcb,
      emb.join(rm, Seq("vec_id"), "left_anti"), rref)
    val rgot = Pipeline6.ivfPqResidualTopKStored(spark, rstore, qs, cents,
      rcb, k = 1000, nProbe = 8).collect()
    assert(!rgot.exists(_.getLong(1) % 10L === 3L),
      "tombstoned residual code rows still rank")
    assert(rgot.toSeq === Pipeline6.ivfPqResidualTopKStored(spark, rref,
      qs, cents, rcb, k = 1000, nProbe = 8).collect().toSeq)
  }

  test("Engine.takedownVectors clears the embedding AND codes stores; withdrawn vectors unrankable") {
    import graft.operators.LabelStore
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Pipeline6.pqCodebook(emb)
    val rm = emb.filter(pmod(col("vec_id"), lit(10L)) === 3L)
      .select(col("vec_id"))
    // eager removes the rows from both cell layouts; deferred queues
    // them in each store's tombstone zone, which every reader anti-joins
    Seq(false, true).foreach { deferred =>
      val ivf = java.nio.file.Files.createTempDirectory("tdv_ivf_").toString
      val codes = java.nio.file.Files.createTempDirectory("tdv_codes_").toString
      val lbl = java.nio.file.Files.createTempDirectory("tdv_lbl_").toString
      Similarity.ivfWrite(emb, cents, ivf)
      Pipeline6.ivfPqWrite(cents, cb, emb, codes)
      LabelStore.write(LabelStore.labelsFor(
        emb.select(col("vec_id").as("doc_id")),
        Seq.empty[(Long, Long)].toDF("d1", "d2")), lbl)

      val n = Engine.takedownVectors(spark, rm, ivf, lbl, cents,
        tau = 0.3, nProbe = 8, codesStorePath = Some(codes),
        deferred = deferred)
      assert(n === rm.count())
      Seq(ivf, codes).foreach { p =>
        val stored = spark.read.parquet(p)
        assert((if (deferred) Maintenance.minusTombstones(spark, p, stored)
          else stored).join(rm, Seq("vec_id"), "left_semi").isEmpty,
          s"deferred=$deferred: retracted rows still read from $p")
        assert(Maintenance.tombstones(spark, p).isDefined === deferred,
          s"deferred=$deferred: tombstone zone of $p")
      }
      assert(LabelStore.read(spark, lbl)
        .join(rm.select(col("vec_id").as("doc_id")), Seq("doc_id")).isEmpty)
      // unrankable through the compressed index even at full fan-out
      val qs = emb.filter(col("vec_id").isin(1L, 2L))
      assert(!Pipeline6.ivfPqTopKStored(spark, codes, qs, cents, cb,
          k = 1000, nProbe = 8).collect()
        .exists(r => r.getLong(1) % 10L === 3L))
      // replay is a no-op
      assert(Engine.takedownVectors(spark, rm, ivf, lbl, cents,
        tau = 0.3, nProbe = 8, codesStorePath = Some(codes),
        deferred = deferred) === 0L)
    }
  }

  test("IVF-PQ codes retraction: probe parity with a rebuild of the survivors, untouched cells intact") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.seedCentroids(emb, 8)
    val cb = Pipeline6.pqCodebook(emb)
    val store = java.nio.file.Files.createTempDirectory("ret_pq_").toString
    val refStore = java.nio.file.Files.createTempDirectory("ret_pq_ref_").toString
    Pipeline6.ivfPqWrite(cents, cb, emb, store)

    val rm = emb.filter(pmod(col("vec_id"), lit(10L)) === 7L)
      .select(col("vec_id"))
    val cells = spark.read.parquet(store)
      .join(rm, Seq("vec_id"), "left_semi").select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val quiet = (0 until 8).filterNot(cells.contains)
    val before = quiet.map(c => new java.io.File(s"$store/cell=$c").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq)

    assert(Maintenance.removeIvfRows(spark, store, rm))
    Pipeline6.ivfPqWrite(cents, cb,
      emb.join(rm, Seq("vec_id"), "left_anti"), refStore)

    val queries = emb.filter(col("vec_id").isin(1L, 2L, 3L))
    val got = Pipeline6.ivfPqTopKStored(spark, store, queries, cents, cb,
      k = 10, nProbe = 8).collect()
    val want = Pipeline6.ivfPqTopKStored(spark, refStore, queries, cents, cb,
      k = 10, nProbe = 8).collect()
    assert(got.toSeq === want.toSeq,
      "post-retraction codes probe must equal a rebuild of the survivors")
    assert(!got.exists(r => r.getLong(1) % 10L === 7L),
      "a retracted vector surfaced in the shortlist")
    val after = quiet.map(c => new java.io.File(s"$store/cell=$c").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSeq)
    assert(after === before, "cell-pruned rewrite touched a quiet cell")
  }
}
