package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{Engine, SparkEntry}
import graft.operators.WordlistSearch

/** One benchmark run in one JVM: set up a workload, run its ops in a
  * closed loop with one client for `--seconds`, check every answer, and
  * write the raw record (ops, spans, counters, configuration) as JSON to
  * `--out`. `perfbench/run.py` launches it and turns the record into the
  * metrics.
  *
  * Usage: perfbench.Harness --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <run dir> --pins <pins.tsv> --out <record.json>
  */
object Harness {
  /** The password_probe corpus: words in `[a-z0-9]{6,10}`. */
  val CorpusWords = 3000000
  /** Probes timed at least, so that ten lie beyond the p90. */
  val MinProbes = 100
  val WarmProbes = 40

  /** store_lifecycle: the cheapest ingestion entry (audio frame and label
    * stores) and the cheapest retraction (label store and BM25 postings),
    * timed over [[LifecyclePasses]] passes. One warm and one timed pass of
    * all eight lifecycle entries would take about two minutes; this takes
    * about 40 s.
    */
  val Lifecycle: Seq[String] = Seq("p128_incremental_audio_labels", "p137_retraction_bm25")
  val LifecyclePasses = 2
  val Ingestion: Set[String] = Set("p128_incremental_audio_labels")
  /** query_mix: every 12th probe-class entry in name order (neither a
    * lifecycle nor a training entry) except p130 and p146, whose store
    * builds would add 17 s to every run's set-up; then the two cheapest
    * training-class entries (`graft.Bench`'s "training": they train a model
    * on every rep). All 218 entries would take about six minutes a run.
    */
  val Mix: Seq[String] = Seq("p01_dedup_exact", "p103_curriculum", "p115_semdedup_stored",
    "p20_dedup_clusters", "p32_mix_rebalance", "p44_ivf_cell_stats", "p57_phrase_topk",
    "p70_bpe_encode", "p82_drift_report", "p94_decontaminate", "q07_window_topn",
    "q19_in_subquery", "q31_window_funcs", "q43_range_window", "q55_moments",
    "q67_quantile_sketch", "p56_pq_trained", "p69_bpe_merges")
  val Training: Set[String] = Set("p56_pq_trained", "p69_bpe_merges")

  final class WrongAnswer(msg: String) extends Exception(msg)

  /** One operation of a workload. `kind` splits a workload's ops in two
    * classes that are reported apart (hit/miss, ingestion/retraction,
    * probe/training).
    */
  final case class Op(name: String, kind: String, run: Option[Tracer] => Unit)

  final case class OpRecord(id: Int, name: String, kind: String, phase: String,
                            startUs: Long, endUs: Long, error: Option[String])

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      // graft.Bench's configuration, verbatim
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // per-run disk isolation
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val records = ArrayBuffer[OpRecord]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()

    val plan = workload match {
      case "password_probe" => probeWorkload(spark, work, seed, extra)
      case "store_lifecycle" | "query_mix" => registryWorkload(spark, work, seed, workload, a("pins"), extra)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    var opGcMs = 0L
    def runOp(op: Op, phase: String, tracer: Option[Tracer]): Unit = {
      val id = records.size
      tracer.foreach(_.beginOp(id))
      val gc0 = gcMs()
      val t0 = Clock.nowUs
      val err = try { tracer.fold(op.run(None))(t => t.span("op")(op.run(Some(t)))); None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(300)) }
      val t1 = Clock.nowUs
      if (phase == "timed") opGcMs += gcMs() - gc0
      tracer.foreach(_.endOp())
      records += OpRecord(id, op.name, op.kind, phase, t0, t1, err)
    }

    val inputsMs = System.currentTimeMillis()
    plan.warm.foreach(runOp(_, "warm", None))

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val disk = tracer.map(_ => new DiskSampler(work))
    // the old generation's peak: with a fixed-size heap the young
    // generation's peak is its capacity, whatever the workload keeps
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
    heapPools.foreach(_.resetPeakUsage())
    val timedStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val firstTimed = records.size
    def timedOps = records.size - firstTimed
    while (System.nanoTime() < deadline || timedOps < plan.minOps || timedOps % plan.passSize != 0)
      runOp(plan.timed.next(), "timed", tracer)
    val timedEndMs = System.currentTimeMillis()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    disk.foreach(_.stop())
    tracer.foreach(_.stop())
    val retainedMb = retainedHeapMb()

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }
    val out = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "load_avg_start" -> loadStart,
      "load_avg_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "config" -> conf.toSeq.sorted,
      "setup_s" -> (timedStartMs - jvmStartMs) / 1e3,
      "setup_parts_s" -> Seq("session" -> (sessionMs - jvmStartMs) / 1e3,
        "inputs" -> (inputsMs - sessionMs) / 1e3, "warm" -> (timedStartMs - inputsMs) / 1e3),
      "timed_s" -> (timedEndMs - timedStartMs) / 1e3,
      "heap_retained_mb" -> retainedMb, "jvm_gc_s" -> opGcMs / 1e3, "heap_peak_mb" -> heapPeakMb,
      "disk_peak_mb" -> disk.map(_.peakMb),
      "ops" -> records.toSeq.map(r => Json.obj(Seq("id" -> r.id, "name" -> r.name, "kind" -> r.kind,
        "phase" -> r.phase, "start_us" -> r.startUs, "end_us" -> r.endUs, "error" -> r.error))),
      "spans" -> tracer.toSeq.flatMap(_.result).map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "op" -> s.op, "start_us" -> s.start, "end_us" -> s.end, "parent" -> s.parent,
        "attrs" -> s.attrs))),
      "counters" -> tracer.toSeq.flatMap(_.opCounters.toSeq.sortBy(_._1))
        .map { case (op, m) => op.toString -> m }) ++ extra.toSeq)
    Files.writeString(Paths.get(a("out")), out.text)
    spark.stop()
  }

  /** Heap in use after full collections, repeated until it stops shrinking. */
  private def retainedHeapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, cur, k) = (Long.MaxValue, used, 1)
    while (k < 5 && prev - cur > (1L << 20)) { prev = cur; cur = used; k += 1 }
    cur / 1048576.0
  }

  /** A workload's untimed warm ops and its timed stream; the timed phase
    * ends on a multiple of `passSize` ops, after at least `minOps` and
    * `--seconds`.
    */
  final case class Plan(warm: Seq[Op], timed: Iterator[Op], passSize: Int, minOps: Int)

  // ---- password_probe ----

  private def probeWorkload(spark: SparkSession, work: Path, seed: Long,
                            extra: scala.collection.mutable.Map[String, Any]): Plan = {
    val base = work.resolve("wordlist").toString
    Wordlist.write(base, seed, CorpusWords)
    val bucketBytes = Wordlist.Ranges.map { r =>
      r.id -> Files.size(Paths.get(base, s"bucket=${r.id}", "part-0.txt"))
    }.toMap
    extra("corpus_words") = CorpusWords
    extra("bucket_bytes") = bucketBytes.toSeq.sorted.map { case (k, v) => k.toString -> v }
    def op(p: Wordlist.Probe): Op = Op("probe", if (p.hit) "hit" else "miss", {
      case None =>
        if (Engine.exists(spark, base, Wordlist.Ranges, p.password) != p.hit)
          throw new WrongAnswer(s"exists(${p.password}) != ${p.hit}")
      case Some(t) =>
        val ids = t.span("wordlist.prune")(WordlistSearch.requiredChunks(Wordlist.Ranges, p.password))
        t.count("buckets", ids.size)
        t.count("bucket_bytes", ids.map(bucketBytes).sum.toDouble)
        val df = t.span("wordlist.scan_build")(WordlistSearch.prunedScan(spark, base, Wordlist.Ranges, p.password))
        val got = t.span("wordlist.exec")(!df.filter(col("value") === lit(p.password)).isEmpty)
        if (got != p.hit) throw new WrongAnswer(s"exists(${p.password}) != ${p.hit}")
    })
    Plan(Wordlist.probes(seed, CorpusWords, stream = 1L).take(WarmProbes).map(op).toSeq,
      Wordlist.probes(seed, CorpusWords).map(op), passSize = 1, minOps = MinProbes)
  }

  // ---- registry workloads ----

  final case class Pin(rows: Long, digest: Option[String])

  def readPins(path: String): Map[String, Pin] =
    Files.readAllLines(Paths.get(path)).asScala.filterNot(_.startsWith("#")).map(_.split('\t')).collect {
      case Array(name, rows, digest) => name -> Pin(rows.toLong, if (digest == "-") None else Some(digest))
    }.toMap

  /** The entries a registry workload runs, before the seed orders them. */
  def entries(workload: String): Seq[String] = if (workload == "store_lifecycle") Lifecycle else Mix

  def order(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)

  private def registryWorkload(spark: SparkSession, work: Path, seed: Long, workload: String,
                               pinsPath: String,
                               extra: scala.collection.mutable.Map[String, Any]): Plan = {
    val dir = work.resolve("data").toString
    Data.write(spark, dir)
    val pins = readPins(pinsPath)
    val names = order(entries(workload), seed)
    extra("entries") = names
    val queries = SparkEntry.queries
    def kind(n: String): String = workload match {
      case "store_lifecycle" => if (Ingestion(n)) "ingestion" else "retraction"
      case _ => if (Training(n)) "training" else "probe"
    }
    def check(name: String, rows: Long, df: => DataFrame, withDigest: Boolean): Unit = {
      val pin = pins.getOrElse(name, throw new WrongAnswer(s"$name has no pin"))
      if (rows != pin.rows) throw new WrongAnswer(s"$name: $rows rows, pinned ${pin.rows}")
      if (withDigest) pin.digest.foreach { d =>
        val (_, got) = Digest(df)
        if (got != d) throw new WrongAnswer(s"$name: digest $got, pinned $d")
      }
    }
    def op(name: String, warm: Boolean): Op = Op(name, kind(name), {
      case None =>
        val df = queries(name)(spark, dir)
        check(name, df.count(), df, withDigest = warm)
      case Some(t) =>
        val df = t.span("entry.build")(queries(name)(spark, dir))
        val rows = t.span("entry.action")(df.count())
        check(name, rows, df, withDigest = false)
    })
    Plan(names.map(op(_, warm = true)), Iterator.continually(names).flatten.map(op(_, warm = false)),
      passSize = names.size, minOps = names.size * (if (workload == "store_lifecycle") LifecyclePasses else 1))
  }

  /** Samples the size of the run directory; reports the peak. */
  final class DiskSampler(dir: Path) {
    @volatile private var running = true
    @volatile var peakBytes = 0L
    private def size(): Long = {
      val s = Files.walk(dir)
      try s.iterator().asScala.map(p => try { if (Files.isRegularFile(p)) Files.size(p) else 0L } catch { case _: java.io.IOException => 0L }).sum
      catch { case _: java.io.UncheckedIOException => peakBytes }
      finally s.close()
    }
    private val thread = new Thread(() => {
      while (running) { peakBytes = math.max(peakBytes, size()); Thread.sleep(250) }
    })
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = { running = false; thread.join(); peakBytes = math.max(peakBytes, size()) }
    def peakMb: Double = peakBytes / 1048576.0
  }
}
