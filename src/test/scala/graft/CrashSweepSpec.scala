package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, LabelStore, Multimodal, Pipeline6, Similarity}
import graft.sources.{Bucketed, Maintenance}
import graft.streaming.StreamingOps

/** The PROGRAMMATIC crash-point sweep over the maintenance/retraction
  * handlers: every handler calls [[CrashPoints.hit]] immediately after
  * each durable step (stats/zone appends, staged writes, the
  * mid-points of both swap devices), and this suite kills each handler
  * at EVERY such boundary and asserts heal-to-convergence — the
  * crash-retried state must equal the never-crashed run's, not merely
  * "not be corrupt". This replaces hand-enumerating crash windows per
  * handler: a newly added durable step is swept automatically the
  * moment it carries a hit() call, and a boundary whose retry diverges
  * fails here with the boundary's name.
  */
class CrashSweepSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String) = SparkTestBase.tmpDir(s"crash_$tag")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def labelState(p: String): Seq[String] =
    rows(LabelStore.read(spark, p))

  private def storeState(p: String): Seq[String] =
    rows(spark.read.parquet(p))

  private def zoneState(p: String): Seq[String] =
    Maintenance.tombstones(spark, p).map(rows).getOrElse(Nil)

  /** Drive one handler through every staged boundary it crosses: one
    * uncrashed run counts the boundaries and snapshots the expected
    * final state; then per boundary i the stores rebuild fresh, the
    * handler dies at i (the [[CrashPoints.InjectedCrash]] a real crash
    * would be), the same call re-runs as the crash retry, and the
    * healed state must equal the uncrashed one row for row. The names
    * of the boundaries the crash runs died at must equal `points`, in
    * order: a refactor may not drop, add, rename or reorder a
    * handler's crash windows.
    */
  private def sweep(tag: String, points: Seq[String])(build: () => Unit)(
      run: () => Unit)(state: () => Seq[String]): Unit = {
    build()
    CrashPoints.arm(Int.MaxValue) // count boundaries, kill nothing
    val n = try { run(); CrashPoints.crossed } finally CrashPoints.disarm()
    val expected = state()
    assert(n > 0, s"$tag: no instrumented boundary crossed")
    val crossed = (0 until n).map { i =>
      build()
      val died =
        try { CrashPoints.arm(i); run(); None }
        catch { case c: CrashPoints.InjectedCrash => Some(c.point) }
        finally CrashPoints.disarm()
      assert(died.isDefined, s"$tag: boundary $i not reached on the " +
        "crash run (boundary set changed between runs?)")
      run() // the crash retry
      assert(state() === expected,
        s"$tag: retry after a crash at boundary $i did not converge " +
          "to the uncrashed state")
      died.get
    }
    assert(crossed === points, s"$tag: crash-boundary sequence changed")
  }

  // ---- text: the 12-doc corpus of RetractionSpec ----
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

  private def sigs(d: DataFrame) =
    Dedup.lshSignatureRows(d, "doc_id", "text", n = 3, numHashes = 16, bands = 4)

  test("crash sweep: text dedup takedowns (eager + deferred) heal at every boundary") {
    var lsh = ""; var lbl = ""
    def build(): Unit = {
      lsh = tmp("lsh"); lbl = tmp("lbl")
      Dedup.lshStoreWrite(sigs(corpus), lsh)
      LabelStore.write(
        Dedup.dedupClusters(corpus, "doc_id",
          Dedup.minhashLshPairs(corpus, "doc_id", "text",
            n = 3, numHashes = 16, bands = 4)),
        lbl)
    }
    val rm = Seq(7L, 10L).toDF("doc_id")
    sweep("dedupRetractBatch", Seq("dedupRetract.labels",
        "removePartitionedRows.staged", "swapInCompacted.mid"))(build)(
      () => StreamingOps.dedupRetractBatch(spark, lsh, lbl)(rm))(
      () => labelState(lbl) ++ storeState(lsh))
    sweep("dedupRetractDeferred", Seq("dedupRetractDeferred.labels"))(build)(
      () => StreamingOps.dedupRetractDeferred(spark, lsh, lbl)(rm))(
      () => labelState(lbl) ++ storeState(lsh) ++ zoneState(lsh))
  }

  test("crash sweep: lexical takedowns (eager + deferred) heal at every boundary") {
    val t = "graft_crash_lex"
    def build(): Unit = Pipeline6.postingsWrite(corpus, t, nBuckets = 4)
    def state(): Seq[String] =
      rows(spark.table(t)) ++
        Seq(spark.table(s"${t}_stats").agg(sum("n"), sum("sdl"))
          .head().toString) ++
        zoneState(Bucketed.tableLocation(spark, t))
    val rm = Seq(7L, 10L).toDF("doc_id")
    sweep("lexicalRetractBatch", Seq("lexicalRetract.stats",
        "bucketedSwap.staged", "bucketedSwap.dropped",
        "lexicalRetract.postings"))(build)(
      () => StreamingOps.lexicalRetractBatch(spark, t, nBuckets = 4,
        retractId = -2L)(rm))(state)
    sweep("lexicalRetractDeferred", Seq("lexicalRetractDeferred.stats",
        "lexicalRetractDeferred.zone"))(build)(
      () => StreamingOps.lexicalRetractDeferred(spark, t, nBuckets = 4,
        retractId = -2L, compactMaxFiles = 0)(rm))(state)
  }

  // ---- video/audio: synthetic banded frame stores (nibble-block
  // hashes keep every non-duplicate pair >= 8 bits apart, far past
  // the handlers' maxHamming = 3) ----
  private def vframes = Seq(
    (1L, 0, 2, 0xF0L), (1L, 1, 2, 0xF00L),
    (2L, 0, 2, 0xF0L), (2L, 1, 2, 0xF00L), // dup of clip 1
    (3L, 0, 2, 0xF0000L), (3L, 1, 2, 0xF00000L),
    (4L, 0, 2, 0xF0000000L), (4L, 1, 2, 0xF00000000L),
  ).toDF("doc_id", "frame", "n_frames", "fhash")

  test("crash sweep: video takedowns (eager + deferred) heal at every boundary") {
    var frm = ""; var lbl = ""
    def build(): Unit = {
      frm = tmp("vfrm"); lbl = tmp("vlbl")
      Multimodal.frameStoreWrite(
        vframes.select(col("doc_id"), col("frame"), col("fhash")), frm)
      LabelStore.write(
        LabelStore.labelsFor(vframes.select(col("doc_id")).distinct(),
          Multimodal.videoNearDupPairs(vframes, maxHamming = 3)
            .select(col("d1"), col("d2"))),
        lbl)
    }
    val rm = Seq(1L).toDF("doc_id")
    sweep("videoRetractBatch", Seq("videoRetract.labels",
        "removePartitionedRows.staged", "swapInCompacted.mid"))(build)(
      () => StreamingOps.videoRetractBatch(spark, frm, lbl)(rm))(
      () => labelState(lbl) ++ storeState(frm))
    sweep("videoRetractDeferred", Seq("videoRetractDeferred.labels"))(build)(
      () => StreamingOps.videoRetractDeferred(spark, frm, lbl)(rm))(
      () => labelState(lbl) ++ storeState(frm) ++ zoneState(frm))
  }

  test("crash sweep: audio takedowns (eager + deferred) heal at every boundary") {
    val afps = Seq((1L, 0xAL), (2L, 0xAL), (3L, 0xA00L), (4L, 0xA0000L))
      .toDF("doc_id", "afp")
    var fp = ""; var lbl = ""
    def build(): Unit = {
      fp = tmp("afp"); lbl = tmp("albl")
      Multimodal.frameStoreWrite(
        afps.select(col("doc_id"), lit(0).as("frame"),
          col("afp").as("fhash")), fp)
      LabelStore.write(
        LabelStore.labelsFor(afps.select(col("doc_id")),
          Multimodal.perceptualNearDupPairs(
              afps.select(col("doc_id"), col("afp").as("dhash")),
              maxHamming = 3)
            .select(col("d1"), col("d2"))),
        lbl)
    }
    val rm = Seq(1L).toDF("doc_id")
    sweep("audioRetractBatch", Seq("audioRetract.labels",
        "removePartitionedRows.staged", "swapInCompacted.mid"))(build)(
      () => StreamingOps.audioRetractBatch(spark, fp, lbl)(rm))(
      () => labelState(lbl) ++ storeState(fp))
    sweep("audioRetractDeferred", Seq("audioRetractDeferred.labels"))(build)(
      () => StreamingOps.audioRetractDeferred(spark, fp, lbl)(rm))(
      () => labelState(lbl) ++ storeState(fp) ++ zoneState(fp))
  }

  // ---- vectors: 6 unit vectors, two identical pairs ----
  private def embFix = Seq(
    (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(1f, 0f, 0f, 0f)),
    (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(0f, 1f, 0f, 0f)),
    (4L, Seq(0f, 0f, 1f, 0f)), (5L, Seq(0f, 0f, 0f, 1f)),
  ).toDF("vec_id", "embedding")

  test("crash sweep: vector takedown heals at every boundary") {
    val cents = Similarity.seedCentroids(embFix, 4)
    var ivf = ""; var lbl = ""
    def build(): Unit = {
      ivf = tmp("ivf"); lbl = tmp("ivlbl")
      Similarity.ivfWrite(embFix, cents, ivf)
      LabelStore.write(
        LabelStore.labelsFor(embFix.select(col("vec_id").as("doc_id")),
          Similarity.cellBlockedTauPairs(embFix, cents, 0.95, nProbe = 4)),
        lbl)
    }
    val rm = Seq(0L).toDF("vec_id")
    sweep("vectorRetractBatch",
        Seq("vectorRetract.labels", "removePrunedRows.overwrite"))(build)(
      () => StreamingOps.vectorRetractBatch(spark, ivf, lbl, cents,
        tau = 0.95, nProbe = 4)(rm))(
      () => labelState(lbl) ++ storeState(ivf))
    sweep("vectorRetractDeferred", Seq("vectorRetractDeferred.labels"))(build)(
      () => StreamingOps.vectorRetractDeferred(spark, ivf, lbl, cents,
        tau = 0.95, nProbe = 4)(rm))(
      () => labelState(lbl) ++ storeState(ivf) ++ zoneState(ivf))
  }

  test("crash sweep: drift retrain/rebuild heals at every boundary") {
    val seed = Similarity.seedCentroids(embFix, 4)
    var ivf = ""
    def build(): Unit = { ivf = tmp("rtivf"); Similarity.ivfWrite(embFix, seed, ivf) }
    sweep("ivfRetrainRebuild", Seq("ivfRetrainRebuild.layout",
        "ivfRetrainRebuild.model", "swapInCompacted.mid"))(build)(
      () => StreamingOps.ivfRetrainRebuild(spark, ivf, seed, rounds = 2))(
      () => storeState(ivf) ++ rows(spark.read.parquet(s"$ivf/_model")))
  }

  // ---- the unified cross-modal stores: per-modality duplicate pairs
  // chaining families {1,2,3} (text 1~2, image 2~3) and {4,5,6}
  // (audio 4~5, video 5~6); retracting the BRIDGE doc 2 must split
  // its family in every crash scenario ----
  test("crash sweep: cross-modal takedowns (eager + deferred) heal at every boundary") {
    val txtRows = Seq(
      (1L, 0, 100L), (1L, 1, 200L), (2L, 0, 100L), (2L, 1, 200L),
      (3L, 0, 300L), (3L, 1, 400L), (4L, 0, 500L), (4L, 1, 600L),
      (5L, 0, 700L), (5L, 1, 800L), (6L, 0, 900L), (6L, 1, 1000L),
    ).toDF("doc_id", "frame", "fhash")
    val imgRows = Seq((1L, 0xFL), (2L, 0xF0L), (3L, 0xF0L),
      (4L, 0xF000L), (5L, 0xF0000L), (6L, 0xF00000L))
      .toDF("doc_id", "dhash")
    val audRows = Seq((1L, 0xA0L), (2L, 0xA00L), (3L, 0xA000L),
      (4L, 0xAL), (5L, 0xAL), (6L, 0xA0000L))
      .toDF("doc_id", "afp")
    val vidRows = Seq(
      (1L, 0, 2, 0xF00L), (1L, 1, 2, 0xF000L),
      (2L, 0, 2, 0xF0000L), (2L, 1, 2, 0xF00000L),
      (3L, 0, 2, 0xF000000L), (3L, 1, 2, 0xF0000000L),
      (4L, 0, 2, 0xF00000000L), (4L, 1, 2, 0xF000000000L),
      (5L, 0, 2, 0xFL), (5L, 1, 2, 0xF0L),
      (6L, 0, 2, 0xFL), (6L, 1, 2, 0xF0L), // dup of clip 5
    ).toDF("doc_id", "frame", "n_frames", "fhash")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L))
      .toDF("d1", "d2")
    var txt = ""; var img = ""; var aud = ""; var vid = ""; var lbl = ""
    def build(): Unit = {
      txt = tmp("xtxt"); img = tmp("ximg"); aud = tmp("xaud")
      vid = tmp("xvid"); lbl = tmp("xlbl")
      Multimodal.frameStoreWrite(txtRows, txt)
      Multimodal.frameStoreWrite(
        imgRows.select(col("doc_id"), lit(0).as("frame"),
          col("dhash").as("fhash")), img)
      Multimodal.frameStoreWrite(
        audRows.select(col("doc_id"), lit(0).as("frame"),
          col("afp").as("fhash")), aud)
      Multimodal.frameStoreWrite(
        vidRows.select(col("doc_id"), col("frame"), col("fhash")), vid)
      LabelStore.write(
        LabelStore.labelsFor(txtRows.select(col("doc_id")).distinct(), pairs),
        lbl)
    }
    def state(): Seq[String] =
      labelState(lbl) ++ Seq(txt, img, aud, vid).flatMap(storeState)
    val rm = Seq(2L).toDF("doc_id")
    sweep("multimodalRetractBatch", Seq("multimodalRetract.labels",
        "removePartitionedRows.staged", "swapInCompacted.mid",
        "multimodalRetract.store",
        "removePartitionedRows.staged", "swapInCompacted.mid",
        "multimodalRetract.store",
        "removePartitionedRows.staged", "swapInCompacted.mid",
        "multimodalRetract.store",
        "removePartitionedRows.staged", "swapInCompacted.mid",
        "multimodalRetract.store"))(build)(
      () => StreamingOps.multimodalRetractBatch(spark, txt, img, aud,
        vid, lbl)(rm))(state)
    sweep("multimodalRetractDeferred", Seq("multimodalRetractDeferred.labels",
        "multimodalRetractDeferred.zone", "multimodalRetractDeferred.zone",
        "multimodalRetractDeferred.zone", "multimodalRetractDeferred.zone"))(
        build)(
      () => StreamingOps.multimodalRetractDeferred(spark, txt, img, aud,
        vid, lbl)(rm))(
      () => state() ++ Seq(txt, img, aud, vid).flatMap(zoneState))
    // the sweep converged AND the bridge family split: doc 2's
    // withdrawal must leave 1 and 3 as singletons
    val lab = LabelStore.read(spark, lbl)
    assert(lab.filter(col("doc_id") === 1L).head().getLong(1) === 1L)
    assert(lab.filter(col("doc_id") === 3L).head().getLong(1) === 3L)
    assert(lab.filter(col("doc_id") === 2L).isEmpty)
  }
}
