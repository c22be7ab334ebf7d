package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.Arrays

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD,
  FileStatusWithMetadata, HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.graftext.FileListing
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

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
  *    buckets listed as Spark's `InMemoryFileIndex` lists them for
  *    `textFile` (so hidden, `_`, nested and empty files drop out alike),
  *    without building the index, and cut into about one split per core
  *  - line scan + bytewise equality (`slave.go:68-105`, `slave.go:85`)
  *                                    → [[exists]]: Spark's
  *    `HadoopFileLinesReader` (the `textFile` line reader) per split,
  *    comparing each line's bytes with the probe's UTF-8 bytes
  *  - per-partition short-circuit (`slave.go:81-104`) → each task stops
  *    at its first matching line
  *  - master OR + sibling abort (`server.go:277-303`) → one map-only
  *    job; the driver cancels it on the first task that reports a hit.
  *
  * Beyond the reference, which scans its chunks for every probe, the
  * routing goes one level below "which files": [[exists]] keeps a Bloom
  * filter over the lines of each 64 KiB block of each file version, so
  * a probe of filtered files is answered with no job at all — a miss
  * from the filters alone, a hit by reading the one block that holds it
  * on the driver.
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
    * an `InMemoryFileIndex` over them lists them ([[FileListing]]), cut
    * into splits of `max(1 MiB, ceil(bytes / defaultParallelism))` by
    * Spark's own `splitFiles`/`getFilePartitions`. A file whose codec
    * cannot be split (gzip) stays whole, as `TextFileFormat.isSplitable`
    * decides. The bucket paths are globbed and checked to exist as
    * `textFile` does, so a missing bucket fails here as it fails in
    * [[prunedScan]].
    */
  def probeSplits(spark: SparkSession, base: String,
                  ranges: Seq[ChunkRange], pw: String): Seq[FilePartition] =
    probeSplits(spark, base, ranges, pw, sessionJobConf(spark))

  private def probeSplits(spark: SparkSession, base: String, ranges: Seq[ChunkRange], pw: String,
                          hadoopConf: JobConf): Seq[FilePartition] = {
    val ids = requiredChunks(ranges, pw)
    if (ids.isEmpty) return Seq.empty
    val roots = ids.flatMap { id =>
      val raw = new Path(s"$base/bucket=$id")
      val fs = raw.getFileSystem(hadoopConf)
      val path = fs.makeQualified(raw)
      val found = Option(fs.globStatus(path)).getOrElse(Array.empty)
      if (found.isEmpty) throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> path.toString))
      found.map(_.getPath)
    }
    val files = FileListing.dataFiles(spark, roots, hadoopConf)
    val cores = spark.sparkContext.defaultParallelism
    val maxSplitBytes = math.max(1L << 20, (files.map(_.getLen).sum + cores - 1) / cores)
    val codecs = new CompressionCodecFactory(hadoopConf)
    val splits = files.flatMap { f =>
      val codec = codecs.getCodec(f.getPath)
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(f), f.getPath,
        codec == null || codec.isInstanceOf[SplittableCompressionCodec], maxSplitBytes, InternalRow.empty)
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, splits, maxSplitBytes)
  }

  /** Q_ref(password): `SELECT EXISTS(SELECT 1 FROM wordlist WHERE
    * candidate = :pw)` with pruning + early termination. Case-SENSITIVE
    * row filter over case-INSENSITIVE pruning, like the reference.
    *
    * Builds the session's Hadoop configuration once ([[sessionJobConf]]),
    * lists [[probeSplits]] under it, then answers from three places in
    * turn, with no Catalyst plan and no shuffle:
    *  1. Filtered files, on the driver. Every block of every listed
    *     file that has line filters is tested for the probe's hash, and
    *     each candidate block is read with [[readRange]]: the reader
    *     and byte comparison the scan tasks use, over the block's
    *     range. The first matching line answers `true`.
    *  2. Unfiltered files, in at most one map-only job over their
    *     splits. Each task scans its split until the first line whose
    *     bytes equal the probe's UTF-8 bytes (the comparison `find`'s
    *     `value === pw` makes), and the driver cancels the job on the
    *     first task that reports a hit, unless the job also builds
    *     filters: then every split runs to its end.
    *  3. Otherwise `false`; no job runs when every file is filtered.
    * A read failure fails the call, except where
    * `spark.sql.files.ignoreMissingFiles` / `ignoreCorruptFiles` skip
    * it, on the driver exactly as in the job (see [[readRange]]).
    *
    * Line filters, positional. A file's blocks are its byte range cut
    * at absolute multiples of [[BlockBytes]] and at the building call's
    * split boundaries, each kept with its start and length. At build
    * time each task reads each block of its split as its own range, so
    * a block's filter holds exactly the lines a later read of that
    * range yields (Hadoop's split contract: a range's lines are those
    * that start in it, plus the first line if it opens the file). A
    * block's filter holds the 64-bit hashes of those lines' bytes, sized
    * from its exact line count for a false-positive rate of
    * `1% / blocks`: a miss passes a file with probability about 1%, and
    * a hit reads about 0.01 false blocks, whatever the file's size.
    * That takes 17–20 bits a line for files of 3–9 MB. A file whose
    * filters at that rate do not fit in [[LineFilters]] is built lean
    * instead: 1% for each block, ~9.6 bits a line, what one filter for
    * the whole file at 1% would take. A miss then reads about 1% of that
    * file's blocks on the driver, still with no job.
    * Candidate reads are bounded: one block plus the line that crosses
    * its end, since a file with a line longer than [[BlockBytes]] gets
    * no filters (its longest line is recorded at build time) and is
    * scanned by the job instead.
    *
    * A filter belongs to a file version: the qualified path, length and
    * modification time that the call's own listing reports, so a new,
    * removed, grown or rewritten file is seen by the next call. A filter
    * has no false negatives; what could make it wrong is a file
    * rewritten at the same length within one tick of a coarse
    * modification clock. So filters are only built for a file whose
    * modification time is older than the call's listing by more than
    * [[FreshMarginMs]]; a fresher file is scanned every time. Filters
    * hold raw line bytes, so line endings, BOMs and encodings need no
    * special case.
    *
    * A call builds the filters of the unfiltered files its job scans,
    * in listing order, while their sizes sum to at most
    * [[MaxBuildBytes]] and their largest possible filters, at the full
    * rate or else lean, fit in [[LineFilters]]; its tasks return one
    * 8-byte hash a line of those
    * files to the driver. A compressed file, whose size does not bound
    * its line count, is never built. Files left out are scanned as
    * above with no filter, and a later call builds them if they then
    * fit.
    */
  def exists(spark: SparkSession, base: String,
             ranges: Seq[ChunkRange], pw: String): Boolean = {
    val listedAt = System.currentTimeMillis()
    val hadoopConf = sessionJobConf(spark)
    val splits = probeSplits(spark, base, ranges, pw, hadoopConf)
    val target = pw.getBytes(StandardCharsets.UTF_8)
    val hash = lineHash(target, target.length)
    val files = splits.flatMap(_.files).distinctBy(_.filePath)
    val known = files.flatMap(f => LineFilters.get(f).map(f.filePath.urlEncoded -> _)).toMap
    val ignore = IgnoreFiles(spark)
    val hitOnDriver = files.exists { f =>
      known.get(f.filePath.urlEncoded).flatten.exists(_.exists(b => b.filter.mightContainLong(hash) &&
        readRange(b.of(f), hadoopConf, ignore, target, null, () => false).found))
    }
    if (hitOnDriver) return true
    val left = splits.map(_.files.filterNot(f => known.get(f.filePath.urlEncoded).exists(_.isDefined)))
      .filter(_.nonEmpty)
    if (left.isEmpty) return false
    lazy val codecs = new CompressionCodecFactory(hadoopConf)
    var budget = MaxBuildBytes
    var room = LineFilters.room()
    val splitsOf = left.flatten.groupBy(_.filePath)
    // each file to build, with its blocks' false-positive rate
    val build = left.flatten.distinctBy(_.filePath).flatMap { f =>
      lazy val blocks = splitsOf(f.filePath).flatMap(blocksOf)
      val rate = if (known.contains(f.filePath.urlEncoded) ||
        listedAt - f.modificationTime <= FreshMarginMs || codecs.getCodec(f.toPath) != null ||
        f.fileSize > budget) None
      else Seq(FileFpp / blocks.size, FileFpp).map(p => p -> maxFilterBytes(blocks, p)).find(_._2 <= room)
      rate.map { case (p, need) =>
        budget -= f.fileSize; room -= need
        f.filePath.urlEncoded -> p
      }
    }.toMap
    val parts = left.zipWithIndex.map { case (files, i) => FilePartition(i, files) }
    val sc = spark.sparkContext
    val scan = new FileScanRDD(spark, scanSplit(TaskConf(sc, hadoopConf), ignore, target, build.keySet),
      parts, new StructType())
    val scans = ArrayBuffer.empty[SplitScan]
    val hit = Promise[Unit]()
    val job = sc.submitJob(scan,
      (rows: Iterator[InternalRow]) => rows.map(_.get(0, null).asInstanceOf[SplitScan]).toArray,
      parts.indices, (_: Int, part: Array[SplitScan]) => {
        scans.synchronized(scans ++= part)
        if (build.isEmpty && part.exists(_.found)) hit.trySuccess(())
      }, ())
    Await.ready(Future.firstCompletedOf(Seq(job, hit.future))(ExecutionContext.parasitic),
      Duration.Inf)
    if (hit.isCompleted) { job.cancel(); return true }
    Await.result(job, Duration.Inf)
    LineFilters.build(parts.flatMap(_.files).filter(f => build.contains(f.filePath.urlEncoded)),
      scans.toSeq, build)
    scans.exists(_.found)
  }

  /** The size of a line filter's blocks: the default buffer of Hadoop's
    * `LineReader`, so a candidate block is about one buffer fill.
    */
  private[graft] val BlockBytes = 64L << 10
  /** The false-positive rate of a whole file's filters: each of its
    * `n` blocks is sized for `FileFpp / n`, or for `FileFpp` itself
    * when the file is built lean.
    */
  private val FileFpp = 0.01
  /** How much older than a call's listing a file must be for its filter
    * to be built: more than the coarsest modification clock (2 s, FAT)
    * of the file systems a wordlist may sit on.
    */
  private val FreshMarginMs = 2000L
  /** The line filters' total size, at most: ~25–30M lines at the 18–20
    * bits a line that blocks of files of 3–9 MB take at the full rate,
    * ~56M lean (9.6 bits a line).
    */
  private val FilterCapBytes = 64L << 20
  /** The most file bytes one call builds filters for. A file of `n`
    * bytes has at most `n + 1` lines, so this bounds the 8-byte hashes a
    * call ships to the driver: ~256 MiB if every line were empty, ~30 MB
    * for 8-character words.
    */
  private val MaxBuildBytes = 32L << 20
  /** A filter is dropped to make room for another only after it has
    * gone unused this long, so a working set of filters larger than
    * [[FilterCapBytes]] is not rebuilt over and over: the files that
    * do not fit are scanned with no filter instead.
    */
  private val IdleMs = 60000L

  /** The bytes of a Bloom filter for `lines` lines at rate `fpp`, as
    * spark-sketch sizes it: in whole 64-bit words.
    */
  private def filterBytes(lines: Long, fpp: Double): Long =
    (BloomFilter.optimalNumOfBits(math.max(1L, lines), fpp) + 63) / 64 * 8

  /** The largest filters a file's `blocks` can take at rate `fpp`: a
    * block of `n` bytes yields at most `n + 1` lines.
    */
  private def maxFilterBytes(blocks: Seq[PartitionedFile], fpp: Double): Long =
    blocks.map(b => filterBytes(b.length + 1, fpp)).sum

  /** A split's blocks: its range cut at absolute multiples of
    * [[BlockBytes]].
    */
  private def blocksOf(split: PartitionedFile): Seq[PartitionedFile] = {
    val end = split.start + split.length
    Iterator.iterate(split.start)(s => (s / BlockBytes + 1) * BlockBytes).takeWhile(_ < end)
      .map(s => split.copy(start = s, length = math.min(end, (s / BlockBytes + 1) * BlockBytes) - s))
      .toSeq
  }

  /** The 64-bit hash a line filter holds for a line's bytes. */
  private def lineHash(bytes: Array[Byte], length: Int): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, length, 42L)

  /** The session's `spark.sql.files.ignoreMissingFiles` and
    * `ignoreCorruptFiles`, as a `FileScanRDD` of the session reads them.
    */
  private[graft] case class IgnoreFiles(missing: Boolean, corrupt: Boolean)
  private[graft] object IgnoreFiles {
    def apply(spark: SparkSession): IgnoreFiles = {
      val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
      IgnoreFiles(conf.ignoreMissingFiles, conf.ignoreCorruptFiles)
    }
  }

  /** One range's read: whether a line equaled the target, whether the
    * range was read to its end (not skipped or cut short by a read
    * failure `ignore` forgives, nor stopped), and its longest line.
    */
  private[graft] case class RangeRead(found: Boolean, complete: Boolean, longest: Int)

  /** Read the lines of `file`'s byte range as a scan task reads them:
    * Spark's `HadoopFileLinesReader` (the `textFile` line reader) over
    * exactly that range, comparing each line's bytes with `target`.
    * Stops at the first equal line, unless `hashes` is given: then
    * every line's hash is added to it and the range is read to its end.
    * `stop` is polled every 4096 lines. Both the scan tasks and the
    * driver's candidate-block reads go through here. The reader copies
    * a `conf` that is not a `JobConf` into one, so callers pass a
    * `JobConf`.
    *
    * Read failures are handled as `FileScanRDD` handles them for the
    * same file: a `FileNotFoundException` is rethrown unless
    * `ignore.missing`, even when `ignore.corrupt`; any other
    * `IOException` or `RuntimeException` is rethrown unless
    * `ignore.corrupt`. A forgiven failure keeps what was read before
    * it and reports the range incomplete.
    */
  private[graft] def readRange(file: PartitionedFile, conf: Configuration, ignore: IgnoreFiles,
                               target: Array[Byte], hashes: ArrayBuilder[Long],
                               stop: () => Boolean): RangeRead = {
    val n = target.length
    var found = false
    var longest = 0
    var read = 0
    var lines: HadoopFileLinesReader = null
    try {
      lines = new HadoopFileLinesReader(file, conf)
      while ((!found || hashes != null) && lines.hasNext && ((read & 0xFFF) != 0 || !stop())) {
        val line = lines.next()
        found ||= line.getLength == n && Arrays.equals(line.getBytes, 0, n, target, 0, n)
        if (hashes != null) hashes += lineHash(line.getBytes, line.getLength)
        longest = math.max(longest, line.getLength)
        read += 1
      }
      RangeRead(found, !lines.hasNext, longest)
    } catch {
      case _: FileNotFoundException if ignore.missing => RangeRead(found, complete = false, longest)
      case e: FileNotFoundException => throw e
      case _ @ (_: RuntimeException | _: IOException) if ignore.corrupt =>
        RangeRead(found, complete = false, longest)
    } finally if (lines != null) lines.close()
  }

  /** One block's build-time read: its range, what [[readRange]] found,
    * and its lines' hashes.
    */
  private case class BlockScan(start: Long, length: Long, read: RangeRead, hashes: Array[Long])

  /** One file split's scan result: whether a line equals the probe and,
    * if the split's file is building its filters, each block's scan.
    */
  private case class SplitScan(path: String, found: Boolean, blocks: Array[BlockScan])

  /** One block of a file version and the filter of its lines. */
  private case class Block(start: Long, length: Long, filter: BloomFilter) {
    /** This block's range of `f`, a split of the same file version. */
    def of(f: PartitionedFile): PartitionedFile = f.copy(start = start, length = length)
  }

  /** The line filters of the file versions [[exists]] has scanned to
    * their ends, least recently used first, at most [[FilterCapBytes]]
    * in all; only filters idle for [[IdleMs]] are dropped to make room.
    * One entry a path: a newer version of the file replaces it. A file
    * with a line longer than [[BlockBytes]] keeps an entry with no
    * blocks, so it is scanned without being built again.
    */
  private object LineFilters {
    private final class Entry(val length: Long, val modified: Long, val blocks: Option[Seq[Block]]) {
      val bytes: Long = blocks.fold(0L)(_.map(_.filter.bitSize / 8).sum)
      var used: Long = System.currentTimeMillis()
    }
    private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
    private var bytes = 0L

    /** What is kept for this split's file version: its blocks, or `None`
      * for a file that gets no filters; nothing if the version was not
      * built.
      */
    def get(f: PartitionedFile): Option[Option[Seq[Block]]] = synchronized {
      val path = f.filePath.urlEncoded
      Option(entries.get(path)).flatMap { e =>
        if (e.length == f.fileSize && e.modified == f.modificationTime) {
          e.used = System.currentTimeMillis()
          Some(e.blocks)
        } else { remove(path); None }
      }
    }

    /** The bytes of filters that could be added now: the free space and
      * the filters unused for more than [[IdleMs]].
      */
    def room(): Long = synchronized {
      val now = System.currentTimeMillis()
      FilterCapBytes - bytes +
        entries.values.asScala.iterator.takeWhile(now - _.used > IdleMs).map(_.bytes).sum
    }

    /** Keep the filters of each file of `files` (every split of the
      * files the job built), its blocks at the false-positive rate
      * `fpp` gives its path, if its blocks were all read to their ends
      * and cover the whole file: a read that `ignoreCorruptFiles` or
      * `ignoreMissingFiles` cut short leaves its file unfiltered.
      */
    def build(files: Seq[PartitionedFile], scans: Seq[SplitScan], fpp: Map[String, Double]): Unit = {
      val byPath = scans.filter(_.blocks != null).groupBy(_.path)
      files.groupBy(_.filePath.urlEncoded).foreach { case (path, splits) =>
        val f = splits.head
        byPath.get(path).map(_.flatMap(_.blocks).sortBy(_.start)).filter { blocks =>
          blocks.forall(_.read.complete) && blocks.headOption.exists(_.start == 0) &&
            blocks.zip(blocks.tail).forall { case (a, b) => a.start + a.length == b.start } &&
            blocks.last.start + blocks.last.length == f.fileSize
        }.foreach { blocks =>
          val filtered = if (blocks.exists(_.read.longest > BlockBytes)) None else Some(blocks.map { b =>
            val filter = BloomFilter.create(math.max(1L, b.hashes.length.toLong), fpp(path))
            b.hashes.foreach(filter.putLong)
            Block(b.start, b.length, filter)
          })
          put(path, new Entry(f.fileSize, f.modificationTime, filtered))
        }
      }
    }

    /** Keep `e`, first dropping idle filters, least recently used first,
      * while it does not fit; if it still does not fit it is not kept.
      */
    private def put(path: String, e: Entry): Unit = synchronized {
      remove(path)
      val now = System.currentTimeMillis()
      val lru = entries.values.iterator
      var idle = true
      while (bytes + e.bytes > FilterCapBytes && idle && lru.hasNext) {
        val old = lru.next()
        idle = now - old.used > IdleMs
        if (idle) { bytes -= old.bytes; lru.remove() }
      }
      if (bytes + e.bytes <= FilterCapBytes) { entries.put(path, e); bytes += e.bytes }
    }

    private def remove(path: String): Unit =
      Option(entries.remove(path)).foreach(e => bytes -= e.bytes)
  }

  /** The Hadoop configuration a `textFile` read of this session uses,
    * as `SessionState.newHadoopConf` builds it (the context's, overlaid
    * with the session's SQL configuration), in one copy that is already
    * the `JobConf` Hadoop's readers and path filters take.
    */
  private def sessionJobConf(spark: SparkSession): JobConf = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = new JobConf(session.sparkContext.hadoopConfiguration)
    session.sessionState.conf.getAllConfs.foreach { case (k, v) => if (v ne null) conf.set(k, v) }
    conf
  }

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

  /** One file split's scan, by [[readRange]]. A split of a file in
    * `build` is read block by block ([[blocksOf]]), each block to its
    * end, and yields one [[SplitScan]] with every block's hashes; any
    * other split stops at its first line that equals `target` byte for
    * byte and yields a [[SplitScan]] only then. A cancelled task stops
    * within 4096 lines; `FileScanRDD` then raises the kill. Each split
    * copies the broadcast configuration into one `JobConf` for all its
    * reads.
    */
  private def scanSplit(conf: Broadcast[SerializableConfiguration], ignore: IgnoreFiles,
                        target: Array[Byte], build: Set[String]): PartitionedFile => Iterator[InternalRow] =
    split => {
      val ctx = TaskContext.get()
      val stop = () => ctx.isInterrupted()
      val jobConf = new JobConf(conf.value.value)
      val path = split.filePath.urlEncoded
      val scan =
        if (build(path)) {
          val blocks = blocksOf(split).map { b =>
            val hashes = ArrayBuilder.make[Long]
            BlockScan(b.start, b.length, readRange(b, jobConf, ignore, target, hashes, stop),
              hashes.result())
          }.toArray
          SplitScan(path, blocks.exists(_.read.found), blocks)
        } else SplitScan(path, readRange(split, jobConf, ignore, target, null, stop).found, null)
      if (scan.found || scan.blocks != null) Iterator.single(new GenericInternalRow(Array[Any](scan)))
      else Iterator.empty
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
