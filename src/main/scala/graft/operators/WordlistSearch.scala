package graft.operators

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.Arrays

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  HadoopFileLinesReader, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Reference-parity core: the distributed existence query over a
  * range-partitioned wordlist — the entire capability of
  * `afx07/optimal-bruteforce-hadoop`, rebuilt Spark-first (SURVEY.md §2
  * O1–O6, §7.1).
  *
  * Mapping (reference cite → here):
  *  - chunk metadata `id=<lo><hi>` (`chunksinfo.txt`, parsed at
  *    `server.go:376-391`)            → [[parseChunkInfo]] / [[ChunkRange]]
  *  - partition pruning on the first char (`server.go:399-411`, the
  *    "optimal" — lowercased probe, inclusive containment, overlapping
  *    ranges produce multi-chunk fan-out)  → [[requiredChunks]]
  *  - chunk files handed to slaves    → [[probeSplits]]: the pruned
  *    buckets listed by Spark's `InMemoryFileIndex` (the listing
  *    `textFile` uses, so hidden and `_` files drop out alike) and cut
  *    into about one split per core
  *  - line scan + bytewise equality (`slave.go:68-105`, `slave.go:85`)
  *                                    → [[exists]]: Spark's
  *    `HadoopFileLinesReader` (the `textFile` line reader) per split,
  *    comparing each line's bytes with the probe's UTF-8 bytes
  *  - per-partition short-circuit (`slave.go:81-104`) → each task stops
  *    at its first matching line
  *  - master OR + sibling abort (`server.go:277-303`) → one map-only
  *    job; the driver cancels it on the first task that reports a hit.
  *
  * On Spark 4.1 the DataFrame form `filter(===).isEmpty` is none of the
  * last three: it plans through Catalyst on every call and runs two
  * stages (the scan, then a one-task `CollectLimit` behind a shuffle),
  * so every split is scanned to its end before the limit sees a row.
  * [[find]] keeps that form, because it returns rows with provenance.
  *
  * Intentional divergences (SURVEY.md §2 quirks): dead-task "miss"
  * semantics (Q6) are replaced by Spark task retry/recompute (exact
  * answers); the single-digit id limit (Q2) and the shared abort-flag
  * race (Q7) are artifacts and not replicated.
  *
  * Scale: the layout is Hive-partitioned (`bucket=<id>/`), so at 100 TB
  * the pruned read lists only the matching buckets' files — the scan
  * cost is proportional to the pruned fraction, and within a bucket the
  * files are split across executors. Pruning happens at path selection
  * (driver metadata only) exactly like the reference's master.
  */
object WordlistSearch {

  /** Inclusive first-character range of one chunk (overlaps allowed —
    * boundary characters legitimately map to two chunks, SURVEY Q3).
    */
  case class ChunkRange(id: Int, lo: Char, hi: Char) {
    def contains(c: Char): Boolean = lo <= c && c <= hi
  }

  /** Parse `id=<lo><hi>` metadata lines (chunksinfo.txt format). */
  def parseChunkInfo(lines: Seq[String]): Seq[ChunkRange] =
    lines.filter(_.contains("=")).map { line =>
      val Array(id, range) = line.split("=", 2)
      ChunkRange(id.trim.toInt, range.charAt(0), range.charAt(1))
    }

  /** O3 — the reference's only optimization: chunks whose range contains
    * the LOWERCASED first character of the probe (`server.go:400` — the
    * probe is lowercased, the row filter is not; Q1 case asymmetry kept
    * deliberately). Sound (superset), not minimal, under overlaps.
    */
  def requiredChunks(ranges: Seq[ChunkRange], pw: String): Seq[Int] =
    if (pw.isEmpty) Seq.empty
    else {
      val c = pw.toLowerCase.charAt(0)
      ranges.filter(_.contains(c)).map(_.id)
    }

  /** Test/fixture writer: place each word in the FIRST bucket whose
    * range contains its (lowercased) first char — boundary words land in
    * the lower bucket, which the pruning fan-out must still find.
    */
  def writeBucketed(words: Seq[String], ranges: Seq[ChunkRange], base: String): Unit = {
    val byBucket = words.groupBy { w =>
      val c = w.toLowerCase.charAt(0)
      ranges.find(_.contains(c)).map(_.id).getOrElse(ranges.last.id)
    }
    ranges.foreach { r =>
      val dir = Paths.get(base, s"bucket=${r.id}")
      Files.createDirectories(dir)
      val content = byBucket.getOrElse(r.id, Seq.empty).mkString("\n")
      Files.write(dir.resolve("part-0.txt"), content.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The pruned scan as a DataFrame — only the required buckets' paths
    * are ever listed or read (verifiable via `inputFiles`).
    */
  def prunedScan(spark: SparkSession, base: String,
                 ranges: Seq[ChunkRange], pw: String): DataFrame = {
    val ids = requiredChunks(ranges, pw)
    if (ids.isEmpty) spark.emptyDataFrame.withColumn("value", lit(""))
    else spark.read.textFile(ids.map(id => s"$base/bucket=$id"): _*).toDF()
  }

  /** The splits one probe scans: the files of its pruned buckets, as
    * `InMemoryFileIndex` lists them, cut into splits of
    * `max(1 MiB, ceil(bytes / defaultParallelism))` by Spark's own
    * `splitFiles`/`getFilePartitions`. A file whose codec cannot be
    * split (gzip) stays whole, by `TextFileFormat.isSplitable`. The
    * bucket paths are globbed and checked to exist as `textFile` does,
    * so a missing bucket fails here as it fails in [[prunedScan]].
    */
  def probeSplits(spark: SparkSession, base: String,
                  ranges: Seq[ChunkRange], pw: String): Seq[FilePartition] = {
    val ids = requiredChunks(ranges, pw)
    if (ids.isEmpty) return Seq.empty
    val hadoopConf = sessionHadoopConf(spark)
    val roots = ids.flatMap { id =>
      val raw = new Path(s"$base/bucket=$id")
      val fs = raw.getFileSystem(hadoopConf)
      val path = fs.makeQualified(raw)
      val found = Option(fs.globStatus(path)).getOrElse(Array.empty)
      if (found.isEmpty) throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> path.toString))
      found.map(_.getPath)
    }
    val files = new InMemoryFileIndex(spark, roots, Map.empty, None)
      .listFiles(Nil, Nil).flatMap(_.files)
    val cores = spark.sparkContext.defaultParallelism
    val maxSplitBytes = math.max(1L << 20, (files.map(_.getLen).sum + cores - 1) / cores)
    val format = new TextFileFormat
    val splits = files.flatMap { f =>
      PartitionedFileUtil.splitFiles(f, f.getPath,
        format.isSplitable(spark, Map.empty, f.getPath), maxSplitBytes, InternalRow.empty)
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplitBytes)
  }

  /** Q_ref(password): `SELECT EXISTS(SELECT 1 FROM wordlist WHERE
    * candidate = :pw)` with pruning + early termination. Case-SENSITIVE
    * row filter over case-INSENSITIVE pruning, like the reference.
    *
    * One map-only job over [[probeSplits]], with no Catalyst plan and no
    * shuffle: each task scans its split until the first line whose
    * bytes equal the probe's UTF-8 bytes (the comparison `find`'s
    * `value === pw` makes), and the driver cancels the job on the first
    * task that reports a hit. A scan failure fails the call.
    */
  def exists(spark: SparkSession, base: String,
             ranges: Seq[ChunkRange], pw: String): Boolean = {
    val splits = probeSplits(spark, base, ranges, pw)
    if (splits.isEmpty) return false
    val sc = spark.sparkContext
    val conf = TaskConf(sc, sessionHadoopConf(spark))
    val scan = new FileScanRDD(spark, scanSplit(conf, pw.getBytes(StandardCharsets.UTF_8)),
      splits, new StructType())
    val hit = Promise[Unit]()
    val job = sc.submitJob(scan, (rows: Iterator[InternalRow]) => rows.hasNext,
      splits.indices, (_: Int, found: Boolean) => if (found) hit.trySuccess(()), ())
    Await.ready(Future.firstCompletedOf(Seq(job, hit.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (hit.isCompleted) { job.cancel(); true }
    else { Await.result(job, Duration.Inf); false }
  }

  /** The Hadoop configuration a `textFile` read of this session uses:
    * the context's, overlaid with the session's SQL configuration.
    */
  private def sessionHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The tasks' Hadoop configuration, broadcast once per distinct
    * configuration: serializing its ~1k entries costs ~6 ms, a third of
    * a probe. Every call compares a snapshot of all entries with the
    * memo's (~0.3 ms), so any change to the context's or the session's
    * Hadoop configuration rebuilds the broadcast. A replaced broadcast
    * is not destroyed, since a probe on another thread may still read
    * it; Spark's ContextCleaner removes it once it is unreferenced.
    */
  private object TaskConf {
    private case class Memo(sc: SparkContext, entries: Map[String, String],
                            conf: Broadcast[SerializableConfiguration])
    private var memo: Memo = _

    def apply(sc: SparkContext, hadoopConf: Configuration): Broadcast[SerializableConfiguration] = {
      val entries = hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      synchronized {
        if (memo == null || (memo.sc ne sc) || memo.entries != entries)
          memo = Memo(sc, entries, sc.broadcast(new SerializableConfiguration(hadoopConf)))
        memo.conf
      }
    }
  }

  /** One file split's scan: a single row if some line of the split
    * equals `target` byte for byte, else none. A cancelled task stops
    * within 4096 lines; `FileScanRDD` then raises the kill.
    */
  private def scanSplit(conf: Broadcast[SerializableConfiguration],
                        target: Array[Byte]): PartitionedFile => Iterator[InternalRow] = file => {
    val ctx = TaskContext.get()
    val lines = new HadoopFileLinesReader(file, conf.value.value)
    ctx.addTaskCompletionListener[Unit](_ => lines.close())
    val n = target.length
    var found = false
    var read = 0
    while (!found && lines.hasNext && ((read & 0xFFF) != 0 || !ctx.isInterrupted())) {
      val line = lines.next()
      found = line.getLength == n && Arrays.equals(line.getBytes, 0, n, target, 0, n)
      read += 1
    }
    lines.close()
    if (found) Iterator.single(InternalRow.empty) else Iterator.empty
  }

  /** The generalized form: all matches with their source file (the
    * reference's per-chunk verdict, O4 partial phase, kept as data).
    */
  def find(spark: SparkSession, base: String,
           ranges: Seq[ChunkRange], pw: String): DataFrame =
    prunedScan(spark, base, ranges, pw)
      .filter(col("value") === lit(pw))
      .select(col("value"), input_file_name().as("source_file"))
}
