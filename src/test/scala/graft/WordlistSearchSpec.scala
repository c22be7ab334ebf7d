package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.zip.GZIPOutputStream

import scala.util.Random

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WordlistSearch._

/** Reference-semantics tests (SURVEY.md §5.2/§5.3): hit, boundary
  * fan-out, miss, case asymmetry (Q1), pruning soundness + provable
  * non-read of pruned buckets, and a seeded property sweep
  * (exists == set membership). The probe's own path is pinned twice:
  * it agrees with the DataFrame form (`find`) on every line-ending,
  * encoding, file-layout and split-boundary case `textFile` handles,
  * and it runs as one map-only job of one stage with one task a split.
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

  private def agree(dir: String, probes: Seq[String]): Unit =
    probes.foreach { p =>
      assert(exists(spark, dir, ranges, p) === !find(spark, dir, ranges, p).isEmpty,
        s"exists and find disagree on probe=${p.map(c => f"\\u${c.toInt}%04x").mkString}")
    }

  /** One bucket of ~3.6 MB (more than 3 MiB, so about four splits at 4
    * cores) of 8-letter words starting with c, d or e, ended by LF or
    * CRLF at random; the other buckets are empty. Returns the base and
    * each line's word with its byte offset.
    */
  lazy val big: (String, IndexedSeq[(String, Long)]) = {
    val rnd = new Random(7)
    val dir = SparkTestBase.tmpDir("wordlist_big")
    writeBucketed(Seq.empty, ranges, dir)
    val out = new ByteArrayOutputStream()
    val lines = IndexedSeq.fill(380000) {
      val w = (('c' + rnd.nextInt(3)).toChar +: Seq.fill(7)(('a' + rnd.nextInt(26)).toChar)).mkString
      val at = out.size.toLong
      out.write(w.getBytes(UTF_8))
      out.write((if (rnd.nextInt(4) == 0) "\r\n" else "\n").getBytes(UTF_8))
      (w, at)
    }
    Files.write(Paths.get(dir, "bucket=2", "part-0.txt"), out.toByteArray)
    (dir, lines)
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
      val probes = corpus.take(20) ++ hidden ++ Seq.fill(5)(word()) ++
        corpus.take(3).flatMap(w => Seq(w + "\r", "\uFEFF" + w, w.toUpperCase))
      agree(dir, probes)
      corpus.take(20).foreach(w => assert(exists(spark, dir, ranges, w), s"missed $w"))
      hidden.foreach(w => assert(!exists(spark, dir, ranges, w), s"read a hidden file for $w"))
      val scanned = probeSplits(spark, dir, ranges, "a").flatMap(_.files.map(_.urlEncodedPath))
      assert(scanned.toSet === prunedScan(spark, dir, ranges, "a").inputFiles.toSet)
    }
  }

  test("property: exists == !find.isEmpty on words straddling split boundaries") {
    val (dir, lines) = big
    val splits = probeSplits(spark, dir, ranges, "c")
    assert(splits.size >= 4, s"${splits.size} splits")
    val boundaries = splits.flatMap(_.files).map(_.start).filter(_ > 0)
    assert(boundaries.nonEmpty)
    val probes = boundaries.flatMap { b =>
      // the line holding byte b, and its neighbours on either side
      val i = lines.lastIndexWhere(_._2 <= b)
      (i - 1 to i + 1).filter(lines.indices.contains).map(lines(_)._1)
    }
    probes.foreach(p => assert(exists(spark, dir, ranges, p), s"missed $p"))
    agree(dir, probes ++ probes.map(_.take(7)))
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
    val (dir, lines) = big
    val miss = "c" + "z" * 11
    val splits = probeSplits(spark, dir, ranges, miss).size
    assert(splits >= 4)
    val (missFound, missShape) = shapeOf(exists(spark, dir, ranges, miss))
    assert(!missFound)
    assert(missShape === Shape(jobs = 1, stages = 1, plannedTasks = splits,
      endedTasks = splits, shuffleBytes = 0))
    // a hit in the first split cancels its siblings and starts no further job
    val (hitFound, hitShape) = shapeOf(exists(spark, dir, ranges, lines.head._1))
    assert(hitFound)
    assert((hitShape.jobs, hitShape.stages, hitShape.plannedTasks, hitShape.shuffleBytes) ===
      ((1, 1, splits, 0L)))
  }
}
