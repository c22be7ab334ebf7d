package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.GZIPOutputStream

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.hadoop.fs.{Path, PathFilter}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.input_file_name
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WordlistSearch._

/** Reference-semantics tests (SURVEY.md §5.2/§5.3): hit, boundary
  * fan-out, miss, case asymmetry (Q1), pruning soundness + provable
  * non-read of pruned buckets, and a seeded property sweep
  * (exists == set membership). The probe's own path is pinned twice:
  * it agrees with the DataFrame form (`find`) on every line-ending,
  * encoding, file-layout and split-boundary case `textFile` handles,
  * and it runs as one map-only job of one stage with one task a split.
  * Its line filters are pinned too: each agreement sweep runs cold and
  * again warm (the split-boundary sweep also at every 64 KiB block
  * boundary), a repeated miss and a warm hit run no job, a fresh file
  * or one with a line longer than a block is never filtered, a file too
  * large for full-rate filters is filtered lean, a deleted
  * file is skipped or fails as the scan job does, and an appended,
  * deleted or same-length rewritten file is seen by the next probe.
  */
class WordlistSearchSpec extends AnyFunSuite with SparkTestBase {

  // mirrors /root/reference/chunksinfo.txt (low/high sentinels + overlaps)
  val ranges = Seq(
    ChunkRange(1, '\u0004', 'b'), ChunkRange(2, 'b', 'f'),
    ChunkRange(3, 'f', 'k'), ChunkRange(4, 'k', 'p'),
    ChunkRange(5, 'p', 't'), ChunkRange(6, 't', '\uFFFD'))

  val words = Seq("apple", "banana", "fig", "kiwi", "pear", "tango", "Zebra")

  lazy val base: String = {
    val dir = SparkTestBase.tmpDir("wordlist")
    writeBucketed(words, ranges, dir)
    dir
  }

  /** The bucket `writeBucketed` puts a word in. */
  private def bucketOf(w: String): Int =
    ranges.find(_.contains(w.toLowerCase.charAt(0))).getOrElse(ranges.last).id

  private def agree(dir: String, probes: Seq[String], pass: String = ""): Unit =
    probes.foreach { p =>
      assert(exists(spark, dir, ranges, p) === !find(spark, dir, ranges, p).isEmpty,
        s"exists and find disagree on probe=${p.map(c => f"\\u${c.toInt}%04x").mkString} $pass")
    }

  /** Date `path` (every file under it) `offsetMs` from now. A minute
    * back is old enough for `exists` to keep the files' line filters;
    * a minute ahead keeps them inside the 2 s freshness margin however
    * long the test stalls before it probes.
    */
  private def date(path: String, offsetMs: Long): Unit = {
    val at = FileTime.fromMillis(System.currentTimeMillis() + offsetMs)
    Files.walk(Paths.get(path)).filter(Files.isRegularFile(_)).forEach(Files.setLastModifiedTime(_, at))
  }
  private val Old = -60000L
  private val Fresh = 60000L

  /** One bucket file of ~3.6 MB (more than 3 MiB, so about four splits
    * at 4 cores) of 8-letter words starting with c, d or e, ended by LF
    * or CRLF at random. Returns its bytes and each line's word with its
    * byte offset.
    */
  lazy val bigBucket: (Array[Byte], IndexedSeq[(String, Long)]) = {
    val rnd = new Random(7)
    val out = new ByteArrayOutputStream()
    val lines = IndexedSeq.fill(380000) {
      val w = (('c' + rnd.nextInt(3)).toChar +: Seq.fill(7)(('a' + rnd.nextInt(26)).toChar)).mkString
      val at = out.size.toLong
      out.write(w.getBytes(UTF_8))
      out.write((if (rnd.nextInt(4) == 0) "\r\n" else "\n").getBytes(UTF_8))
      (w, at)
    }
    (out.toByteArray, lines)
  }

  /** A base whose bucket 2 holds [[bigBucket]] and whose other buckets
    * are empty, every file dated `offsetMs` from now.
    */
  private def bigBase(tag: String, offsetMs: Long): String = {
    val dir = SparkTestBase.tmpDir(tag)
    writeBucketed(Seq.empty, ranges, dir)
    Files.write(Paths.get(dir, "bucket=2", "part-0.txt"), bigBucket._1)
    date(dir, offsetMs)
    dir
  }

  /** One bucket file of ~260 KB of 8-letter words starting with c, d
    * or e, laid out so that 64 KiB block boundaries cut it the ways a
    * line can be cut: the first between a CRLF's `\r` and `\n`, the
    * second just before an empty line, the third just after an LF.
    * Returns its bytes and each line's word with its byte offset.
    */
  lazy val edgeBucket: (Array[Byte], IndexedSeq[(String, Long)]) = {
    val rnd = new Random(13)
    val out = new ByteArrayOutputStream()
    val lines = IndexedSeq.newBuilder[(String, Long)]
    def word(n: Int) = (('c' + rnd.nextInt(3)).toChar +: Seq.fill(n - 1)(('a' + rnd.nextInt(26)).toChar)).mkString
    def put(w: String, end: String): Unit = {
      lines += w -> out.size.toLong
      out.write((w + end).getBytes(UTF_8))
    }
    // LF-ended lines up to byte `at`, the last one sized to end there
    def fillTo(at: Long): Unit = {
      while (at - out.size > 18) put(word(8), "\n")
      put(word((at - out.size - 1).toInt), "\n")
    }
    fillTo(BlockBytes - 9)
    put(word(8), "\r\n")
    fillTo(2 * BlockBytes)
    put("", "\n")
    fillTo(3 * BlockBytes)
    while (out.size < 4 * BlockBytes + 100) put(word(8), "\n")
    (out.toByteArray, lines.result())
  }

  test("chunksinfo parsing") {
    val parsed = parseChunkInfo(Seq("1=\u0004b", "2=bf", "3=fk"))
    assert(parsed === Seq(ChunkRange(1, '\u0004', 'b'),
      ChunkRange(2, 'b', 'f'), ChunkRange(3, 'f', 'k')))
  }

  test("hit mid-bucket") {
    assert(exists(spark, base, ranges, "apple"))
  }

  test("boundary char fans out to two chunks and still hits (Q3)") {
    assert(requiredChunks(ranges, "fig") === Seq(2, 3))
    assert(exists(spark, base, ranges, "fig"))
  }

  test("miss within a scanned bucket") {
    assert(!exists(spark, base, ranges, "durian"))
  }

  test("case asymmetry (Q1): pruning lowercases, filter is exact") {
    // corpus has lowercase "apple": uppercase probe prunes fine but fails filter
    assert(!exists(spark, base, ranges, "Apple"))
    // corpus literally contains "Zebra": uppercase probe prunes via 'z' and matches
    assert(exists(spark, base, ranges, "Zebra"))
  }

  test("empty probe returns false, scans nothing") {
    assert(requiredChunks(ranges, "") === Seq.empty)
    assert(probeSplits(spark, base, ranges, "") === Seq.empty)
    assert(!exists(spark, base, ranges, ""))
  }

  test("pruned buckets are provably unread") {
    val files = prunedScan(spark, base, ranges, "apple").inputFiles
    assert(files.nonEmpty && files.forall(_.contains("bucket=1")))
    val scanned = probeSplits(spark, base, ranges, "apple")
      .flatMap(_.files.map(_.urlEncodedPath)).toSet
    assert(scanned === files.toSet)
  }

  test("find returns provenance") {
    val rows = find(spark, base, ranges, "fig").collect()
    assert(rows.length === 1 && rows.head.getString(1).contains("bucket=2"))
  }

  test("property: exists == set membership (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    def randWord() = (1 to (1 + rnd.nextInt(8)))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    for (trial <- 1 to 5) {
      val corpus = Seq.fill(30)(randWord()).distinct
      val dir = SparkTestBase.tmpDir(s"wl$trial")
      writeBucketed(corpus, ranges, dir)
      val probes = corpus.take(5) ++ Seq.fill(5)(randWord())
      probes.foreach { p =>
        assert(exists(spark, dir, ranges, p) === corpus.contains(p),
          s"probe=$p corpus=${corpus.take(8)}...")
      }
      // pruning soundness: the pruned chunk set contains every chunk
      // whose range covers the probe's first char
      probes.foreach { p =>
        val c = p.toLowerCase.charAt(0)
        val req = requiredChunks(ranges, p).toSet
        assert(ranges.filter(_.contains(c)).map(_.id).toSet.subsetOf(req))
      }
    }
  }

  test("property: exists == !find.isEmpty over mixed line endings, BOMs, hidden and gzip'd files") {
    val alphabet = "abcdefghijklmnopqrstuvwxyzABCDEZ" +
      "\u00e1\u00e7\u00e9\u00f1\u00df\u00fc\u00f8\u65e5\u672c\u8a9e"
    for (seed <- 1 to 4) {
      val rnd = new Random(seed)
      def word() = Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val corpus = Seq.fill(60)(word()).distinct
      val hidden = Seq.fill(6)(word()).filterNot(corpus.contains)
      val dir = SparkTestBase.tmpDir(s"wl_messy$seed")
      corpus.groupBy(bucketOf).foreach { case (id, ws) =>
        val bucket = Paths.get(dir, s"bucket=$id")
        Files.createDirectories(bucket)
        // three parts a bucket, the last gzip'd; each may open with a BOM,
        // mixes LF, CRLF and lone CR, holds empty lines and may end
        // without a newline
        ws.grouped((ws.size + 2) / 3).zipWithIndex.foreach { case (part, i) =>
          val sb = new StringBuilder(if (rnd.nextBoolean()) "\uFEFF" else "")
          part.foreach { w =>
            if (rnd.nextInt(5) == 0) sb ++= "\n"
            sb ++= w ++= Seq("\n", "\r\n", "\r")(rnd.nextInt(3))
          }
          if (rnd.nextBoolean()) sb.setLength(sb.length - (if (sb.endsWith("\r\n")) 2 else 1))
          val bytes = sb.toString.getBytes(UTF_8)
          if (i == 2) {
            val gz = new GZIPOutputStream(Files.newOutputStream(bucket.resolve(s"part-$i.txt.gz")))
            try gz.write(bytes) finally gz.close()
          } else Files.write(bucket.resolve(s"part-$i.txt"), bytes)
        }
        Files.write(bucket.resolve("_SUCCESS"), hidden.mkString("\n").getBytes(UTF_8))
        Files.write(bucket.resolve(".hidden.txt"), hidden.mkString("\n").getBytes(UTF_8))
      }
      ranges.foreach(r => Files.createDirectories(Paths.get(dir, s"bucket=${r.id}")))
      date(dir, Old)
      val probes = corpus.take(20) ++ hidden ++ Seq.fill(5)(word()) ++
        corpus.take(3).flatMap(w => Seq(w + "\r", "\uFEFF" + w, w.toUpperCase))
      for (pass <- Seq("cold", "warm")) {
        agree(dir, probes, pass)
        corpus.take(20).foreach(w => assert(exists(spark, dir, ranges, w), s"missed $w $pass"))
        hidden.foreach(w => assert(!exists(spark, dir, ranges, w), s"read a hidden file for $w $pass"))
      }
      val scanned = probeSplits(spark, dir, ranges, "a").flatMap(_.files.map(_.urlEncodedPath))
      assert(scanned.toSet === prunedScan(spark, dir, ranges, "a").inputFiles.toSet)
    }
  }

  test("property: exists == !find.isEmpty on words straddling split boundaries") {
    // cold: files inside the freshness margin, so every probe runs the
    // scan job; warm: old files whose block filters one miss has built,
    // so every probe is answered on the driver
    for ((pass, offset) <- Seq("cold" -> Fresh, "warm" -> Old)) {
      val dir = bigBase(s"wordlist_boundaries_$pass", offset)
      Files.write(Paths.get(dir, "bucket=2", "part-1.txt"), edgeBucket._1)
      date(dir, offset)
      val splits = probeSplits(spark, dir, ranges, "c")
      assert(splits.size >= 4, s"${splits.size} splits")
      val probes = Seq(bigBucket, edgeBucket).zipWithIndex.flatMap { case ((bytes, lines), part) =>
        val starts = splits.flatMap(_.files).filter(_.urlEncodedPath.endsWith(s"part-$part.txt"))
          .map(_.start).filter(_ > 0)
        val boundaries = starts ++ (BlockBytes until bytes.length by BlockBytes)
        assert(boundaries.nonEmpty)
        boundaries.flatMap { b =>
          // the line holding byte b, its neighbours on either side, and
          // every line that starts within 2 bytes of b
          val i = lines.lastIndexWhere(_._2 <= b)
          (i - 1 to i + 1).filter(lines.indices.contains).map(lines(_)._1) ++
            lines.collect { case (w, at) if math.abs(at - b) <= 2 => w }
        }
      }.filter(_.nonEmpty).distinct
      if (pass == "warm") assert(!exists(spark, dir, ranges, "c" + "z" * 11))
      val (_, shape) = shapeOf(probes.foreach(p => assert(exists(spark, dir, ranges, p), s"missed $p $pass")))
      assert(shape.jobs === (if (pass == "warm") 0 else probes.size), pass)
      agree(dir, probes ++ probes.map(_.take(7)), pass)
    }
    // a file with a line longer than a block keeps no filters: even
    // warm, every probe of it runs the scan job
    val dir = SparkTestBase.tmpDir("wordlist_long_line")
    writeBucketed(Seq.empty, ranges, dir)
    val long = "c" + "x" * BlockBytes.toInt
    Files.write(Paths.get(dir, "bucket=2", "part-0.txt"), s"cab\n$long\ncde\n".getBytes(UTF_8))
    date(dir, Old)
    val probes = Seq("cab", long, "cde", "cdz")
    for (pass <- Seq("cold", "warm")) {
      val (found, shape) = shapeOf(probes.map(exists(spark, dir, ranges, _)))
      assert(found === Seq(true, true, true, false) && shape.jobs === probes.size, pass)
      agree(dir, probes, pass)
    }
  }

  test("probeSplits lists the files find reads: nested, hidden, partition-like, empty and filtered entries") {
    // bucket 4 (k-p) holds, beside its part file, a word in each place a
    // bucket listing must leave out; a session-level path filter hides
    // *.skip. The second base adds a partition-like `_x=1/` directory,
    // which makes `textFile` read only that directory's files, and fails
    // a probe whose buckets it would conflict with.
    val key = "mapreduce.input.pathFilter.class"
    def write(dir: String, rel: String, text: String): Unit = {
      val path = Paths.get(dir, "bucket=4", rel)
      Files.createDirectories(path.getParent)
      Files.write(path, text.getBytes(UTF_8))
    }
    val plain = SparkTestBase.tmpDir("wordlist_listing")
    writeBucketed(words, ranges, plain)
    Seq("part-1.txt" -> "mroot\n", "sub/part-0.txt" -> "mnested\n", "empty.txt" -> "",
      "_tmp/part-0.txt" -> "mtmp\n", ".staging/part-0.txt" -> "mstaging\n", "part-2.skip" -> "mskip\n")
      .foreach { case (rel, text) => write(plain, rel, text) }
    val partitioned = SparkTestBase.tmpDir("wordlist_listing_partitioned")
    writeBucketed(words, ranges, partitioned)
    write(partitioned, "part-1.txt", "mroot\n")
    write(partitioned, "_x=1/part-0.txt", "mpart\n")
    Seq(plain, partitioned).foreach(date(_, Old))
    def listed(dir: String, p: String) = probeSplits(spark, dir, ranges, p).flatMap(_.files.map(_.urlEncodedPath)).toSet
    def read(dir: String, p: String) =
      prunedScan(spark, dir, ranges, p).select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    def nonEmpty(files: Array[String]) = files.filter(f => new java.io.File(new java.net.URI(f)).length > 0).toSet
    def conflicts(body: => Any): Unit = intercept[Exception](body) match {
      case e: SparkThrowable => assert(e.getCondition === "CONFLICTING_DIRECTORY_STRUCTURES")
      case e => fail(e)
    }
    try {
      spark.conf.set(key, classOf[SkipPathFilter].getName)
      for (pass <- Seq("cold", "warm")) {
        agree(plain, Seq("mroot", "mnested", "mtmp", "mstaging", "mskip", "kiwi", "pear", "mzzz"), pass)
        agree(partitioned, Seq("mroot", "mpart", "mzzz"), pass)
        Seq("m", "k", "p").foreach { p =>
          assert(listed(plain, p) === nonEmpty(prunedScan(spark, plain, ranges, p).inputFiles), s"$p $pass")
          assert(listed(plain, p) === read(plain, p), s"$p $pass")
        }
        assert(listed(partitioned, "m") === read(partitioned, "m"), pass)
        Seq("kiwi", "pear").foreach { p =>
          conflicts(find(spark, partitioned, ranges, p))
          conflicts(exists(spark, partitioned, ranges, p))
        }
      }
      assert(exists(spark, plain, ranges, "mroot") && !exists(spark, plain, ranges, "mskip"))
      assert(exists(spark, partitioned, ranges, "mpart"))
    } finally spark.conf.unset(key)
  }

  test("readRange skips or fails on a deleted file as the scan job does") {
    val dir = SparkTestBase.tmpDir("wordlist_deleted")
    writeBucketed(words, ranges, dir)
    val file = probeSplits(spark, dir, ranges, "apple").head.files.head
    // the scans list the file now and read it after it is gone; each
    // takes the setting in force when its first action plans it
    val Seq(skipping, failing) = Seq.fill(2)(spark.read.textFile(s"$dir/bucket=1"))
    Files.delete(Paths.get(file.toPath.toUri))
    val target = "apple".getBytes(UTF_8)
    def read() = readRange(file, spark.sparkContext.hadoopConfiguration, IgnoreFiles(spark), target,
      null, () => false)
    val key = "spark.sql.files.ignoreMissingFiles"
    try {
      spark.conf.set(key, "true")
      assert(skipping.collect().isEmpty)
      assert(read() === RangeRead(found = false, complete = false, longest = 0))
      spark.conf.set(key, "false")
      val failed = intercept[Exception](failing.collect())
      assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[java.io.FileNotFoundException]), failed)
      intercept[java.io.FileNotFoundException](read())
    } finally spark.conf.unset(key)
  }

  test("a missing bucket fails like find does") {
    val dir = SparkTestBase.tmpDir("wordlist_missing")
    writeBucketed(Seq("apple"), ranges.take(1), dir)
    intercept[AnalysisException](find(spark, dir, ranges, "kiwi"))
    intercept[AnalysisException](exists(spark, dir, ranges, "kiwi"))
  }

  /** What `body` runs, read off the listener bus: jobs, their stages,
    * the tasks those stages planned and ended, and shuffle bytes
    * written. Only jobs of a private job group count; a sentinel job in
    * a second group flushes the bus, which delivers events in order.
    */
  private case class Shape(jobs: Int, stages: Int, plannedTasks: Int,
                           endedTasks: Int, shuffleBytes: Long)

  private def shapeOf[A](body: => A): (A, Shape) = {
    val sc = spark.sparkContext
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val jobs, planned, ended = new AtomicInteger(0)
    val shuffle = new AtomicLong(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "wordlist-shape" =>
            jobs.incrementAndGet()
            js.stageInfos.foreach { s => stageIds.add(s.stageId); planned.addAndGet(s.numTasks) }
          case "wordlist-shape-sentinel" => flushed.countDown()
          case _ =>
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(te.stageId)) {
          ended.incrementAndGet()
          Option(te.taskMetrics).foreach(m => shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("wordlist-shape", "exists under test")
      val result = body
      sc.setJobGroup("wordlist-shape-sentinel", "listener-bus flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "sentinel job event never delivered")
      (result, Shape(jobs.get, stageIds.size, planned.get, ended.get, shuffle.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("plan shape: one exists call is one map-only job, one task a split") {
    val lines = bigBucket._2
    val dir = bigBase("wordlist_shape", Old)
    val miss = "c" + "z" * 11
    val splits = probeSplits(spark, dir, ranges, miss).size
    assert(splits >= 4)
    val (missFound, missShape) = shapeOf(exists(spark, dir, ranges, miss))
    assert(!missFound)
    assert(missShape === Shape(jobs = 1, stages = 1, plannedTasks = splits,
      endedTasks = splits, shuffleBytes = 0))
    // the first miss built the file's line filters, which now rule the
    // miss out and point a hit at the one block the driver reads
    val (warmFound, warmShape) = shapeOf(exists(spark, dir, ranges, miss))
    assert(!warmFound && warmShape.jobs === 0)
    val (warmHit, warmHitShape) = shapeOf(exists(spark, dir, ranges, lines.head._1))
    assert(warmHit && warmHitShape.jobs === 0)
    // a file inside the freshness margin keeps no filter: every probe scans it
    val fresh = bigBase("wordlist_shape_fresh", Fresh)
    val freshSplits = probeSplits(spark, fresh, ranges, miss).size
    // a hit in the first split cancels its siblings and starts no further job
    val (hitFound, hitShape) = shapeOf(exists(spark, fresh, ranges, lines.head._1))
    assert(hitFound)
    assert((hitShape.jobs, hitShape.stages, hitShape.plannedTasks, hitShape.shuffleBytes) ===
      ((1, 1, freshSplits, 0L)))
    for (_ <- 1 to 2) {
      val (freshFound, freshShape) = shapeOf(exists(spark, fresh, ranges, miss))
      assert(!freshFound)
      assert((freshShape.jobs, freshShape.plannedTasks) === ((1, freshSplits)))
    }
  }

  test("line filters: an appended, deleted or same-length rewritten file is seen by the next probe") {
    val dir = SparkTestBase.tmpDir("wordlist_changes")
    writeBucketed(words, ranges, dir)
    date(dir, Old)
    val w = "durian"
    val part0 = Paths.get(dir, s"bucket=${bucketOf(w)}", "part-0.txt")
    def probe(want: Boolean, what: String): Unit = {
      assert(exists(spark, dir, ranges, w) === want, what)
      agree(dir, Seq(w), what)
    }
    // the miss builds the bucket's filter, which then answers it with no job
    probe(false, "before any change")
    assert(shapeOf(exists(spark, dir, ranges, w))._2.jobs === 0)
    val part1 = part0.resolveSibling("part-1.txt")
    Files.write(part1, s"$w\n".getBytes(UTF_8))
    probe(true, "after appending a part file holding the word")
    Files.delete(part1)
    probe(false, "after deleting the file that held the hit")
    // part-0 written anew, probed while fresh, then rewritten at the same
    // length within the same tick of a coarse modification clock: length
    // and modification time both match the version the miss scanned
    Files.write(part0, "banana\nfig".getBytes(UTF_8))
    date(part0.toString, Fresh)
    val tick = Files.getLastModifiedTime(part0)
    probe(false, "with part-0 freshly rewritten")
    Files.write(part0, "durian\nfig".getBytes(UTF_8))
    Files.setLastModifiedTime(part0, tick)
    probe(true, "after rewriting part-0 at the same length in the same tick")
  }

  test("line filters: concurrent probes agree with set membership while filters build") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val corpus = (0 until 2000).map(i => s"${('a' + i % 26).toChar}w$i")
    val dir = SparkTestBase.tmpDir("wordlist_concurrent")
    writeBucketed(corpus, ranges, dir)
    date(dir, Old)
    val probes = corpus.take(40) ++ corpus.take(40).map(_ + "x")
    val answers = Future.traverse((0 until 4).toList) { t =>
      Future(new Random(t).shuffle(probes).map(p => p -> exists(spark, dir, ranges, p)))
    }
    Await.result(answers, Duration(5, TimeUnit.MINUTES)).flatten.foreach { case (p, got) =>
      assert(got === corpus.contains(p), s"probe=$p")
    }
  }

  test("line filters: a file too large for full-rate block filters is built lean, then probed with no job") {
    // 28 MB in ~430 blocks: at 1% / blocks its filters could take ~78 MB,
    // more than the 64 MiB memo holds; lean, at 1% a block, ~34 MB
    val rnd = new Random(17)
    val dir = SparkTestBase.tmpDir("wordlist_lean")
    writeBucketed(Seq.empty, ranges, dir)
    val out = new ByteArrayOutputStream()
    val lines = IndexedSeq.fill(28000) {
      val w = (('c' + rnd.nextInt(3)).toChar +: Seq.fill(998)(('a' + rnd.nextInt(26)).toChar)).mkString
      out.write(s"$w\n".getBytes(UTF_8))
      w
    }
    Files.write(Paths.get(dir, "bucket=2", "part-0.txt"), out.toByteArray)
    date(dir, Old)
    val miss = "c" + "z" * 11
    val hits = Seq(lines.head, lines(lines.size / 2), lines.last)
    assert(shapeOf(exists(spark, dir, ranges, miss))._2.jobs === 1)
    (miss +: hits).foreach { p =>
      val (found, shape) = shapeOf(exists(spark, dir, ranges, p))
      assert(found === (p != miss) && shape.jobs === 0, s"probe=${p.take(8)}")
    }
    agree(dir, miss +: hits)
  }

  test("line filters: files past one call's build limit are scanned, then built by later calls") {
    // three ~11 MiB part files in one bucket: two fit in one call's 32 MiB
    // build, the third does not
    val rnd = new Random(11)
    val dir = SparkTestBase.tmpDir("wordlist_build_limit")
    writeBucketed(Seq.empty, ranges, dir)
    val hits = (0 until 3).flatMap { i =>
      val out = new ByteArrayOutputStream()
      val ws = IndexedSeq.fill(1300000) {
        val w = (('c' + rnd.nextInt(3)).toChar +: Seq.fill(7)(('a' + rnd.nextInt(26)).toChar)).mkString
        out.write(s"$w\n".getBytes(UTF_8))
        w
      }
      Files.write(Paths.get(dir, "bucket=2", s"part-$i.txt"), out.toByteArray)
      Seq(ws.head, ws(ws.size / 2), ws.last)
    }
    date(dir, Old)
    val miss = "c" + "z" * 11
    val jobs = (1 to 3).map { _ =>
      val (found, shape) = shapeOf(exists(spark, dir, ranges, miss))
      assert(!found)
      shape.jobs
    }
    assert(jobs === Seq(1, 1, 0), "the second call builds the file the first left out")
    agree(dir, miss +: hits)
  }
}

/** Hides `*.skip` files from a listing, as a session's
  * `mapreduce.input.pathFilter.class`.
  */
class SkipPathFilter extends PathFilter {
  override def accept(path: Path): Boolean = !path.getName.endsWith(".skip")
}
