package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Pipeline8, Relational8}

/** Round-7 batch-8 operators (quality rules, shard writer, source
  * overlap, BFS reachability): pins the discrimination / completeness /
  * determinism properties the oracles cannot see, plus the BFS
  * invariants behind the recursive-oracle equivalence argument.
  */
class Batch9Spec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // ---- p74 quality rules ----

  test("p74: every rule discriminates and the composite keeps a middle slice") {
    val v = Pipeline8.qualityRules(spark, dir).collect()
    val n = v.length
    assert(n > 0)
    // each named rule fails at least one document (a rule nothing ever
    // fails is dead weight; one everything fails annihilates the corpus)
    Seq("r_wordcount", "r_wordlen", "r_stopword", "r_repetition",
        "r_diversity").foreach { r =>
      val i = v.head.fieldIndex(r)
      val fails = v.count(!_.getBoolean(i))
      assert(fails > 0, s"$r never fails")
      assert(fails < n, s"$r fails everything")
    }
    val kept = v.count(_.getBoolean(v.head.fieldIndex("pass")))
    assert(kept > n / 10 && kept < n * 9 / 10,
      s"composite keeps $kept/$n — thresholds no longer discriminate")
  }

  test("p74: reason is the first failing rule, 'ok' iff pass") {
    val rules = Seq("r_wordcount" -> "word_count", "r_wordlen" -> "word_len",
      "r_stopword" -> "stopword", "r_repetition" -> "repetition",
      "r_diversity" -> "diversity")
    Pipeline8.qualityRules(spark, dir).collect().foreach { r =>
      val want = rules.find { case (c, _) => !r.getBoolean(r.fieldIndex(c)) }
        .map(_._2).getOrElse("ok")
      assert(r.getAs[String]("reason") === want)
      assert(r.getAs[Boolean]("pass") === (want == "ok"))
    }
  }

  // ---- p75 shard manifest ----

  test("p75: shards are exact-size, contiguous, and cover the corpus") {
    val docs = Tables.documents(spark, dir)
    val total = docs.count()
    val m = Pipeline8.seededShardManifest(docs, 64, "graft-shard-7")
      .collect()
    // shard ids are 0..k-1 with every shard full except possibly the last
    assert(m.map(_.getInt(0)).toSeq === m.indices)
    m.init.foreach(r => assert(r.getLong(1) === 64L))
    assert(m.map(_.getLong(1)).sum === total)
    // id checksum folds over ALL doc ids exactly once
    val idSum = docs.agg(sum(col("doc_id"))).collect()(0).getLong(0)
    assert(m.map(_.getAs[Long]("id_sum")).sum === idSum)
    // the seeded order is a real permutation: shard key ranges are
    // disjoint and ascending with the shard id
    m.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[String]("hi_key") <= b.getAs[String]("lo_key"))
      case _ =>
    }
  }

  test("p75: assignment is seed-deterministic and partition-invariant") {
    val docs = Tables.documents(spark, dir)
    val base = Pipeline8.seededShards(docs, "doc_id", 64, "graft-shard-7")
      .select(col("doc_id"), col("shard"))
    val again = Pipeline8.seededShards(docs.repartition(13), "doc_id", 64,
        "graft-shard-7")
      .select(col("doc_id"), col("shard"))
    assert(base.exceptAll(again).isEmpty && again.exceptAll(base).isEmpty,
      "shard assignment depends on input partitioning")
    // a different seed is a different permutation (not a fixed identity)
    val other = Pipeline8.seededShards(docs, "doc_id", 64, "other-seed")
      .select(col("doc_id"), col("shard"))
    assert(base.join(other, "doc_id")
      .filter(base("shard") =!= other("shard")).count() > 0,
      "seed does not influence the permutation")
  }

  // ---- p76 cross-source overlap ----

  test("p76: matrix is canonical-ordered and folds every LSH pair once") {
    val d01 = "/root/testdata/sf0.01" // sf0.001 has no near-dup pairs
    val docs = Tables.documents(spark, d01)
    val m = Pipeline8.crossSourceOverlap(spark, d01).collect()
    assert(m.nonEmpty)
    m.foreach(r => assert(r.getString(0) <= r.getString(1)))
    val nPairs = operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 5, numHashes = 16, bands = 4).count()
    assert(m.map(_.getAs[Long]("n_pairs")).sum === nPairs,
      "matrix total != p04 pair count (pairs dropped or double-counted)")
  }

  // ---- q63 BFS reachability ----

  test("q63: BFS invariants — seed at 0, parent at dist-1, frontier exhausts before the cap") {
    val d01 = "/root/testdata/sf0.01"
    val edges = Relational8.incidentEdges(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val got = Relational8.q63Reachability(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) === 0)
    assert(got.values.max < 10,
      "depth cap binds — empty-frontier exit never happened")
    // every non-seed visited node has an in-edge from a node at dist-1,
    // and no edge ever skips a level downward (BFS layering)
    got.foreach { case (node, dist) =>
      if (node != 0L)
        assert(edges.exists { case (s, t) =>
          t == node && got.get(s).contains(dist - 1) },
          s"node $node at dist $dist has no parent at ${dist - 1}")
    }
    edges.foreach { case (s, t) =>
      for (ds <- got.get(s); dt <- got.get(t))
        assert(dt <= ds + 1, s"edge $s->$t skips a BFS level")
    }
    // reachability is non-trivial on this graph (depth ≥ 3 exercises
    // the loop, not just the seed's neighborhood)
    assert(got.values.max >= 3)
  }

  test("p77: release manifest covers exactly the deduped quality survivors") {
    val docs = Tables.documents(spark, dir)
    val survivors = docs.filter(operators.Pipeline8.qualityPass)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(survivors.nonEmpty && survivors.size < docs.count())
    val m = operators.Pipeline8.releaseManifest(spark, dir).collect()
    assert(m.map(_.getLong(1)).sum === survivors.size)
    assert(m.map(_.getAs[Long]("id_sum")).sum === survivors.sum)
    m.init.foreach(r => assert(r.getLong(1) === 64L))
  }

  test("q64: distributed integer PageRank equals a single-node fold, mass conserved") {
    val d01 = "/root/testdata/sf0.01"
    val S = 1000000000000L
    val edges = Relational8.incidentEdges(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    // single-node fold of the IDENTICAL integer recurrence
    var pr = nodes.map(_ -> S / n).toMap
    for (_ <- 1 to 3) {
      val dang = nodes.filterNot(outDeg.contains).map(pr).sum
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / outDeg(u) }.sum
      }
      pr = nodes.map(v => v ->
        ((15 * S / 100) / n + 85 * (in.getOrElse(v, 0L) + dang / n) / 100)).toMap
    }
    val got = Relational8.q64PageRank(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === pr)
    // integer DIV only ever truncates: total mass stays within the
    // worst-case truncation slack of the true S
    val total = got.values.sum
    assert(total <= S && total > S * 95 / 100,
      s"rank mass $total strayed from scale $S")
    // ranks differentiate (a constant vector means the joins are dead)
    assert(got.values.toSet.size > 1)
  }

  test("p78: wave decode round-trips the generator exactly (shared-nothing recompute)") {
    import operators.Multimodal
    val got = Multimodal.decodeWave(
        Multimodal.attachWave(Tables.documents(spark, dir)))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.nonEmpty)
    got.foreach { case (id, r) =>
      val (period, phase, n, k) = Multimodal.waveParams(id)
      val s = Array.tabulate(n)(t => Multimodal.sampleAt(period, phase, n, k, t))
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Int]("n_samples") === n)
      assert(r.getAs[Long]("sum_s") === s.map(_.toLong).sum)
      assert(r.getAs[Int]("max_amp") === s.map(math.abs).max)
      assert(r.getAs[Long]("zero_cross") ===
        s.sliding(2).count(p => p(0).toLong * p(1) < 0).toLong)
      assert(r.getAs[Long]("afp") === Multimodal.waveFingerprint(s))
    }
  }

  test("p78: decoder rejects corrupt payloads loudly") {
    import spark.implicits._
    import operators.Multimodal
    val bad = Seq((7L, "RIFFxxxxJUNK".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWave(bad).collect()
    }
    assert(ex.getMessage.contains("7") || ex.getCause != null)
  }

  test("decoders reject overflow-crafted sizes loudly (Long-compared guards)") {
    import spark.implicits._
    import operators.Multimodal
    // RIFF chunk size 0x7FFFFFF0: positive in Int, but i+8+size wraps
    // negative in Int arithmetic — must hit the loud guard, not a raw
    // index exception
    val wav = new Array[Byte](64)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, wav, 0, 4)
    System.arraycopy("WAVE".getBytes("US-ASCII"), 0, wav, 8, 4)
    System.arraycopy("junk".getBytes("US-ASCII"), 0, wav, 12, 4)
    wav(16) = 0xF0.toByte; wav(17) = 0xFF.toByte
    wav(18) = 0xFF.toByte; wav(19) = 0x7F.toByte
    val e1 = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWave(Seq((3L, wav)).toDF("doc_id", "payload")).collect()
    }
    val m1 = e1.getMessage + Option(e1.getCause).map(_.getMessage).getOrElse("")
    assert(m1.contains("bad chunk size"))
    // PPM header 37838x37838: w*h*3 wraps Int to a small positive that
    // once passed the bounds check — must fail the parse loudly now
    val hdr = "P6\n37838 37838\n255\n".getBytes("US-ASCII")
    val ppm = hdr ++ Array.fill[Byte](64)(0)
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeVideoFrames(Seq((4L, ppm)).toDF("doc_id", "payload"))
        .collect()
    }
    val m2 = e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(m2.contains("overruns the stream") || m2.contains("doc 4"))
  }

  test("p78: negative-reading chunk size fails fast instead of looping") {
    import spark.implicits._
    import operators.Multimodal
    // a chunk size whose low 32 bits read as 0xFFFFFFF8 (toInt = -8)
    // once made the RIFF walk's step zero/negative — an executor-task
    // infinite loop; the guard must reject it loudly in bounded time
    val b = new Array[Byte](48)
    System.arraycopy("RIFF".getBytes("US-ASCII"), 0, b, 0, 4)
    System.arraycopy("WAVE".getBytes("US-ASCII"), 0, b, 8, 4)
    System.arraycopy("junk".getBytes("US-ASCII"), 0, b, 12, 4)
    b(16) = 0xF8.toByte; b(17) = 0xFF.toByte
    b(18) = 0xFF.toByte; b(19) = 0xFF.toByte
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWave(Seq((9L, b)).toDF("doc_id", "payload")).collect()
    }
    val msg = ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("bad chunk size"))
  }

  test("p79: byte-identical scenes (ids 160 apart) pair at Hamming 0") {
    val d01 = "/root/testdata/sf0.01"
    val pairs = operators.Pipeline8.audioNearDup(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    val byPair = pairs.map { case (a, b, h) => (a, b) -> h }.toMap
    val n = Tables.documents(spark, d01).count()
    (0L until n - 160).foreach { id =>
      assert(byPair.get((id, id + 160)).contains(0),
        s"ids $id/${id + 160} should be byte-identical audio")
    }
    pairs.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 3) }
    // the fingerprint DISCRIMINATES: a stationary synth collapses every
    // profile to the same value and the pair set explodes to all-pairs
    // (the degenerate-feature trap this fixture's envelope exists to
    // avoid) — pin that the radius keeps out the vast majority
    assert(pairs.length < n * (n - 1) / 2 / 20,
      s"${pairs.length} pairs of ${n * (n - 1) / 2} — fingerprint degenerate")
  }

  test("q65: per-node counts equal a single-node triangle enumeration") {
    val d01 = "/root/testdata/sf0.01"
    val und = Relational8.incidentEdges(spark, d01).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
                 math.max(r.getLong(0), r.getLong(1)))).distinct
    val edgeSet = und.toSet
    val counts = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- und; (b2, c) <- und if b2 == b && edgeSet((a, c))) {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    val got = Relational8.q65Triangles(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === counts.toMap)
    assert(got.nonEmpty && got.values.sum % 3 === 0,
      "each triangle must contribute exactly three corners")
  }

  test("q66: k-core equals single-node peeling and reaches fixpoint inside the round budget") {
    val d01 = "/root/testdata/sf0.01"
    val und = Relational8.incidentEdges(spark, d01).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
                 math.max(r.getLong(0), r.getLong(1)))).distinct
    var surv = und.flatMap(e => Seq(e._1, e._2)).toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      for ((a, b) <- und if surv(a) && surv(b)) { deg(a) += 1; deg(b) += 1 }
      val next = surv.filter(deg(_) >= 3)
      changed = next != surv
      if (changed) rounds += 1
      surv = next
    }
    assert(rounds <= 8,
      s"peeling took $rounds rounds — raise CoreRounds or the oracle diverges")
    val finalDeg = {
      val deg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((a, b) <- und if surv(a) && surv(b)) { deg(a) += 1; deg(b) += 1 }
      deg.toMap
    }
    val got = Relational8.q66KCore(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === finalDeg)
    assert(got.nonEmpty && got.values.forall(_ >= 3),
      "every core member must keep degree >= k within the core")
  }

  test("Engine.shardWrite: partitioned layout + manifest round-trip") {
    val docs = Tables.documents(spark, dir)
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = Engine.shardWrite(docs, "doc_id", out, 64, "graft-shard-7")
      .collect()
    // layout: one directory per manifest shard, re-read equals source
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count())
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.length === manifest.length)
    // re-read shard sizes match the manifest
    val sizes = back.groupBy(col("shard")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    manifest.foreach(m => assert(sizes(m.getInt(0)) === m.getLong(1)))
    // the written assignment IS the seeded one
    val want = operators.Pipeline8.seededShards(docs, "doc_id", 64, "graft-shard-7")
      .select(col("doc_id"), col("shard"))
    assert(back.select(col("doc_id"), col("shard")).exceptAll(want).isEmpty)
  }

  test("p80: expansion changes the ranking and stays disjoint from the seed") {
    import spark.implicits._
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val seed = Seq("merge", "stream", "vector")
    val withExp = operators.Pipeline9.rm3SearchOf(docs, seed, 10, 5, 10)
      .collect().map(r => r.getLong(1)).toSeq
    // expTerms = 0 degenerates to the plain seed search
    val seedOnly = operators.Pipeline9.rm3SearchOf(docs, seed, 10, 0, 10)
      .collect().map(r => r.getLong(1)).toSeq
    assert(withExp.size === 10 && seedOnly.size === 10)
    assert(withExp !== seedOnly,
      "expansion had no effect on the ranking — PRF is dead weight")
    // recompute the expansion terms independently and check disjointness
    val tf = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.count()
    val w = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"), expr(s"CAST($n * 1000 DIV df AS BIGINT)").as("w"))
    val fb = tf.join(seed.toDF("term"), Seq("term")).join(w, Seq("term"))
      .groupBy(col("doc_id")).agg(sum(col("tf") * col("w")).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(10).select(col("doc_id"))
    val exp = tf.join(fb, Seq("doc_id"))
      .filter(!col("term").isInCollection(seed))
      .groupBy(col("term")).agg(sum(col("tf")).as("t"))
      .orderBy(col("t").desc, col("term")).limit(5)
      .collect().map(_.getString(0)).toSet
    assert(exp.size === 5 && exp.intersect(seed.toSet).isEmpty)
  }

  test("p81: appending never touches a full base shard") {
    import operators.Pipeline8
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val baseOnly = Pipeline8.seededShardManifest(base, 64, "graft-shard-7")
      .collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val combined = operators.Pipeline9.shardAppendManifest(
        base, docs.filter(col("doc_id") % 5 === 0), 64, "graft-shard-7")
      .collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val nb = base.count()
    val fullBaseShards = (nb / 64).toInt
    (0 until fullBaseShards).foreach { sh =>
      assert(combined(sh) === baseOnly(sh),
        s"append rewrote full base shard $sh — stability broken")
    }
    // the whole corpus is covered exactly once
    assert(combined.values.map(_(1).asInstanceOf[Long]).sum === docs.count())
  }

  test("p82: a simulated feed flood dominates the drift report") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // increment = base plus a boilerplate flood: one token repeated
    // corpus-wide must surface its bucket at rank 1
    val flood = Seq.fill(50)((99999L, Array.fill(40)("zzzflood").mkString(" ")))
      .zipWithIndex.map { case ((_, t), i) => (99000L + i, t) }
      .toDF("doc_id", "text")
    val report = operators.Pipeline9.driftReportOf(docs, docs.unionByName(
        flood.withColumn("lang", lit("en")).withColumn("source", lit("srcX"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select(docs.columns.map(col): _*)), 20)
      .collect()
    assert(report.nonEmpty)
    val floodBucket = spark.range(1)
      .select(pmod(conv(substring(md5(lit("zzzflood")), 1, 7), 16, 10)
        .cast("long"), lit(1024L)).as("b")).collect()(0).getLong(0)
    assert(report(0).getInt(0) === floodBucket.toInt,
      "the flooded token's bucket should lead the drift ranking")
    assert(report(0).getAs[Long]("drift") > report.last.getAs[Long]("drift"))
  }

  test("Engine.connectedComponents: generic edges equal single-node union-find") {
    val d01 = "/root/testdata/sf0.01"
    val edges = Relational8.incidentEdges(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    val got = Engine.connectedComponents(Relational8.incidentEdges(spark, d01))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // every label is its component's minimum member
    got.groupBy(_._2).foreach { case (comp, members) =>
      assert(comp === members.keys.min)
    }
  }

  test("Engine.connectedComponents over string node ids labels each component with its least id") {
    val s = spark
    import s.implicits._
    val edges = Seq("b" -> "a", "c" -> "b", "y" -> "x", "q" -> "q").toDF("src", "dst")
    val got = Engine.connectedComponents(edges).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x", "q" -> "q"))
  }

  test("Engine.dedupClusters: docs joined only through an id outside docs stay apart on both paths") {
    val s = spark
    import s.implicits._
    // 3–4 lies inside docs, so with a bound of 0 the first call must
    // decline the driver fast path and run the min-label loop
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq(1L -> 9L, 9L -> 2L, 3L -> 4L).toDF("d1", "d2")
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L)
    assert(labels(operators.Dedup.dedupClusters(docs, "doc_id", pairs, maxDriverEdges = 0)) === want)
    assert(labels(Engine.dedupClusters(docs, "doc_id", pairs)) === want)
  }

  test("p102: the distilled perceptron beats the majority-class baseline with a real split") {
    // guards the training demo against silent death by testdata
    // regeneration: the learned model must actually discriminate, not
    // collapse to the majority class (the all-positive basin batch
    // perceptron sits in for its first ~13 rounds here)
    val rows = operators.Pipeline11.perceptronQuality(spark, "/root/testdata/sf0.01")
      .collect()
    val n = rows.length.toDouble
    val acc = rows.count(_.getAs[Boolean]("correct")) / n
    val majority = math.max(rows.count(_.getAs[Long]("y") == 1L) / n,
      rows.count(_.getAs[Long]("y") == -1L) / n)
    val posPred = rows.count(_.getAs[Long]("pred") == 1L) / n
    assert(acc > majority + 0.02,
      f"accuracy $acc%.3f does not beat the majority baseline $majority%.3f")
    assert(posPred > 0.05 && posPred < 0.95,
      f"prediction split $posPred%.3f is degenerate")
  }

  test("p102: the model trained on half the corpus generalizes to the held-out half") {
    // the deploy half: train on even ids, score odd ids the model has
    // never seen — a distilled classifier is only useful if it beats
    // the baseline OFF its training set
    val all = Tables.documents(spark, "/root/testdata/sf0.01")
    val w = Engine.perceptronTrain(all.filter(col("doc_id") % 2 === 0))
    val held = all.filter(col("doc_id") % 2 === 1)
    val scored = Engine.perceptronScore(held, w)
      .join(held.select(col("doc_id"),
        expr("CASE WHEN 50 * size(filter(split(text, ' '), " +
             "t -> t IN ('the','a','of','and','to'))) - " +
             "size(split(text, ' ')) >= 0 THEN 1 ELSE -1 END").as("y")),
        Seq("doc_id"))
      .collect()
    val n = scored.length.toDouble
    val acc = scored.count(r => r.getAs[Long]("pred") ==
      r.getAs[Int]("y").toLong) / n
    val majority = math.max(scored.count(_.getAs[Int]("y") == 1) / n,
      scored.count(_.getAs[Int]("y") == -1) / n)
    assert(acc > majority,
      f"held-out accuracy $acc%.3f does not beat the baseline $majority%.3f")
  }

  test("p107: the pocket model beats raw on training error and holds on held-out") {
    // the oscillation fix: train both forms on even ids. The pocket
    // form's TRAINING accuracy must be >= raw's (guaranteed — w_22 is
    // one of its candidates; strict here, where the raw budget stops
    // short of the separable optimum the pocket run reaches), its
    // held-out accuracy on the odd half must not regress, and it must
    // still beat the majority class. (Weight AVERAGING was measured
    // and rejected: the first ~13 all-positive-basin rounds dominate
    // any average — held-out 0.928 vs raw 0.936; see the p107
    // scaladoc.)
    val all = Tables.documents(spark, "/root/testdata/sf0.01")
    val train = all.filter(col("doc_id") % 2 === 0)
    val held = all.filter(col("doc_id") % 2 === 1)
    val yCol = expr("CASE WHEN 50 * size(filter(split(text, ' '), " +
      "t -> t IN ('the','a','of','and','to'))) - " +
      "size(split(text, ' ')) >= 0 THEN 1 ELSE -1 END").as("y")
    def accOn(docs: org.apache.spark.sql.DataFrame,
              w: org.apache.spark.sql.DataFrame): Double = {
      val scored = Engine.perceptronScore(docs, w)
        .join(docs.select(col("doc_id"), yCol), Seq("doc_id"))
        .collect()
      scored.count(r => r.getAs[Long]("pred") ==
        r.getAs[Int]("y").toLong) / scored.length.toDouble
    }
    val wRaw = Engine.perceptronTrain(train)
    val wPocket = Engine.perceptronTrainPocket(train)
    assert(accOn(train, wPocket) >= accOn(train, wRaw),
      "pocket training accuracy fell below raw — impossible by construction")
    val rawAcc = accOn(held, wRaw)
    val pocketAcc = accOn(held, wPocket)
    val heldRows = held.select(yCol).collect()
    val n = heldRows.length.toDouble
    val majority = math.max(heldRows.count(_.getInt(0) == 1) / n,
      heldRows.count(_.getInt(0) == -1) / n)
    assert(pocketAcc >= rawAcc,
      f"pocket held-out accuracy $pocketAcc%.3f fell below raw $rawAcc%.3f")
    assert(pocketAcc > majority,
      f"pocket accuracy $pocketAcc%.3f does not beat the baseline $majority%.3f")
  }

  test("p106: appending documents never moves a base document's plan coordinates") {
    // the p81 discipline applied to the whole composition: a daily
    // ingest must not rewrite yesterday's phases, batches or shards.
    // Build the plan on the base alone, then append the increment —
    // every base row must be IDENTICAL, every doc present exactly once,
    // and appended docs extend each structure's tail
    import operators.Pipeline12
    val all = Tables.documents(spark, "/root/testdata/sf0.01")
    val base = all.filter(col("doc_id") % 5 =!= 0)
    val inc = all.filter(col("doc_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val baseOnly = Pipeline12.releasePlanOf(base, 100, 16, 8, 64,
      "graft-shard-7")
    val appended = Pipeline12.releasePlanAppendOf(base, inc, 100, 16, 8, 64,
      "graft-shard-7")
    val appendedBaseRows = appended.join(
      base.select(col("doc_id")), Seq("doc_id")).select(baseOnly.columns.map(col): _*)
    assert(rows(appendedBaseRows) === rows(baseOnly),
      "append moved a frozen base coordinate")
    assert(appended.count() === all.count())
    assert(appended.select(col("doc_id")).distinct().count() === all.count())
    // appended docs extend tails: their store shards start no earlier
    // than the base's last shard, and batch indices within any
    // (bucket, batch_shard) group start no earlier than the base max
    val lastBaseShard = baseOnly.agg(max(col("store_shard"))).first().getInt(0)
    val minIncShard = appended.join(inc.select(col("doc_id")), Seq("doc_id"))
      .agg(min(col("store_shard"))).first().getInt(0)
    assert(minIncShard >= lastBaseShard,
      "an appended doc landed before the base's shard tail")
  }

  test("Engine graph facades delegate to the registered library forms") {
    val d01 = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val edges = Relational8.incidentEdges(spark, d01)
    assert(rows(Engine.pageRankWeighted(
        Relational8.incidentEdgesWeighted(spark, d01), 5)) ===
      rows(Relational8.pageRankWeighted(
        Relational8.incidentEdgesWeighted(spark, d01), 5)))
    assert(rows(Engine.kCore(edges, 3, 8)) ===
      rows(Relational8.q66KCore(spark, d01)))
    // both orientations through the facade equal the registered q65
    val want = rows(Relational8.q65Triangles(spark, d01))
    assert(rows(Engine.triangleCounts(edges, degreeOrdered = false)) === want)
    assert(rows(Engine.triangleCounts(edges)) === want)
    val ev = Tables.events(spark, d01).select(col("user_id"),
      expr("unix_micros(ts)").as("us"), col("event_id"),
      expr("CAST(floor(value * 100) AS BIGINT)").as("c"))
    assert(rows(Engine.ewmaBounded(ev)) ===
      rows(Relational8.q69Ewma(spark, d01)))
  }

  test("p83: every eval row passes the gate, sits on the eval side, respects the cap") {
    import operators.{Dedup, Pipeline8, PipelineQueries => PQ}
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val got = operators.Pipeline9.evalRelease(spark, d01).collect()
    assert(got.nonEmpty)
    // cap respected per source
    got.groupBy(_.getString(1)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to rows.length))
    }
    val ids = got.map(_.getLong(0)).toSet
    // every member passes the quality gate
    val passIds = docs.filter(Pipeline8.qualityPass)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(passIds))
    // every member is on the eval side of the leak-free split — and so
    // is every near-dup of it (the leak-free guarantee, re-checked here
    // through the composition)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 5,
      numHashes = 16, bands = 4)
    val split = Dedup.leakFreeSplit(docs, "doc_id", pairs, evalPct = 10)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(ids.forall(split(_) == "eval"))
    pairs.collect().map(r => (r.getLong(0), r.getLong(1))).foreach {
      case (a, b) =>
        if (ids(a) || ids(b))
          assert(split(a) == "eval" && split(b) == "eval",
            s"near-dup pair ($a,$b) straddles the split with an eval member")
    }
  }

  test("p84: the winning passage really contains a query term, and MaxP picks the doc max") {
    val d01 = "/root/testdata/sf0.01"
    val terms = Seq("merge", "stream", "vector")
    val rows = operators.Pipeline9.maxpSearch(spark, d01).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val texts = Tables.documents(spark, d01)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (doc, start) = (r.getLong(1), r.getLong(3))
      val window = texts(doc).drop(start.toInt).take(100)
      assert(terms.exists(window.contains),
        s"doc $doc winning passage at $start has no query term")
      // no other window of the doc scores a strictly higher raw hit sum
      // under equal weights — a cheap single-node MaxP sanity proxy
      val hits = (c: String) => terms.map(t =>
        (c.length - c.replace(t, "").length) / t.length).sum
      val allWindows = (0 to (texts(doc).length - 1) / 80)
        .map(i => texts(doc).drop(i * 80).take(100))
      assert(hits(window) > 0 && hits(window) <= allWindows.map(hits).max)
    }
  }

  test("p85: every modality's pair endpoints land in one cluster; labels are minima") {
    import operators.Multimodal
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val lbl = operators.Pipeline9.multimodalDedup(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // image and audio pair endpoints must always share a cluster
    val imgPairs = Multimodal.perceptualNearDupPairs(
      Multimodal.decodeRaster(Multimodal.attachRaster(docs))
        .select(col("doc_id"), col("dhash")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val audPairs = Multimodal.perceptualNearDupPairs(
      Multimodal.decodeWave(Multimodal.attachWave(docs))
        .select(col("doc_id"), col("afp").as("dhash")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(imgPairs.nonEmpty && audPairs.nonEmpty)
    (imgPairs ++ audPairs).foreach { case (a, b) =>
      assert(lbl(a) === lbl(b), s"pair ($a,$b) split across clusters")
    }
    // labels are component minima
    lbl.groupBy(_._2).foreach { case (c, m) => assert(c === m.keys.min) }
    // the fusion is real: some cluster is strictly larger than what
    // either single modality's pairs alone would produce
    def ccSize(pairs: Seq[(Long, Long)]): Map[Long, Int] = {
      val parent = collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r } }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .groupBy(find).map { case (r, m) => r -> m.size }
    }
    val fusedMax = lbl.groupBy(_._2).values.map(_.size).max
    val soloMax = (ccSize(imgPairs.toSeq).values ++ ccSize(audPairs.toSeq).values).max
    assert(fusedMax >= soloMax, "fused clusters lost members vs a single modality")
  }

  test("q63: single-node BFS over the collected edge list agrees exactly") {
    val d01 = "/root/testdata/sf0.01"
    val adj = Relational8.incidentEdges(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = Map(0L -> 0)
    var frontier = Set(0L)
    var d = 1
    while (frontier.nonEmpty && d <= 10) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> d)
      frontier = next
      d += 1
    }
    val got = Relational8.q63Reachability(spark, d01).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === dist)
  }

  test("p108: the quality table's counts reconcile with the registered p03/p04") {
    import operators.{Dedup, Pipeline12}
    val d01 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d01)
    val rows = Pipeline12.lshQuality(spark, d01).collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(0.2, 0.3, 0.5, 0.8))
    // the threshold-0.2 truth count IS p03's registered row count, and
    // n_cand IS p04's — the report must be the same relations, not a
    // re-derivation that can drift
    val p03 = operators.PipelineQueries.dedupNgramJaccard(spark, d01).count()
    val p04 = operators.PipelineQueries.dedupMinhashLsh(spark, d01).count()
    val at02 = rows.find(_.getDouble(0) == 0.2).get
    assert(at02.getAs[Long]("n_truth") === p03)
    assert(rows.forall(_.getAs[Long]("n_cand") == p04))
    rows.foreach { r =>
      val (truth, hits) = (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hits"))
      assert(hits <= truth && hits <= p04)
      if (truth > 0)
        assert(r.getAs[Double]("recall") >= 0.0 &&
               r.getAs[Double]("recall") <= 1.0)
    }
    // truth shrinks as the bar rises
    val truths = rows.map(_.getAs[Long]("n_truth")).toSeq
    assert(truths === truths.sorted.reverse, s"n_truth not antitone: $truths")
    // the fixture must exercise the metric: some threshold has hits
    assert(rows.map(_.getAs[Long]("n_hits")).max > 0)
  }

  test("p110: the stored audio probe equals the fresh decode-and-scan") {
    import operators.{Multimodal, Pipeline12}
    val d = "/root/testdata/sf0.001"
    val got = Pipeline12.audioProbeStored(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // brute force: every (query seg-0 fp) × (all segments) within 3
    val segs = Multimodal.decodeWaveSegments(
      Multimodal.attachWave(Tables.documents(spark, d)), 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
    val qs = segs.filter(s => s._1 < 5 && s._2 == 0)
    val want = (for {
      (qid, _, qh) <- qs
      (did, seg, fp) <- segs
      h = java.lang.Long.bitCount(qh ^ fp)
      if h <= 3
    } yield (qid, did, seg, h)).toSet
    assert(got === want)
    // each query self-hits its own opening segment exactly
    qs.foreach { case (qid, _, _) => assert(got((qid, qid, 0, 0))) }
  }

  test("p114: spans equal a sequential reference; the signal discriminates") {
    import operators.Pipeline12
    val d01 = "/root/testdata/sf0.01"
    val got = Pipeline12.boilerplateSpans(spark, d01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // sequential reference: flags per full window, then maximal runs
    val want = Tables.documents(spark, d01)
      .select(col("doc_id"), col("text")).collect().flatMap { r =>
        // limit -1: keep trailing empty tokens, matching Spark's
        // split(text, ' ') so the window count cannot diverge
        val toks = r.getString(1).split(" ", -1)
        val flags = (0 until toks.length / 20).map { i =>
          toks.slice(i * 20, (i + 1) * 20).distinct.length * 5 <= 3 * 20
        }
        val runs = collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var s = -1
        for (i <- flags.indices) {
          if (flags(i) && s == -1) s = i
          if (!flags(i) && s != -1) { runs += ((s, i - 1)); s = -1 }
        }
        if (s != -1) runs += ((s, flags.length - 1))
        runs.map { case (a, b) => (r.getLong(0), a, b, (b - a + 1).toLong) }
      }
    assert(got.toSet === want.toSet, "span fold diverged from the reference")
    // the corpus must exercise the op: spans exist, and at least one
    // doc is MIXED (a flagged span that does not cover every window —
    // a positional signal, not a doc-level one)
    assert(got.nonEmpty)
    val winCount = Tables.documents(spark, d01).select(col("doc_id"),
        (size(split(col("text"), " ")) / 20).cast("int").as("nw"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.exists { case (id, a, b, _) => (b - a + 1) < winCount(id) },
      "every span covers its whole doc — the signal is doc-level, not positional")
  }

  test("p109: band collisions bound agreements below; errors fold exactly") {
    import operators.Pipeline12
    val d01 = "/root/testdata/sf0.01"
    val all = Pipeline12.minhashEstimate(spark, d01).collect()
    val (summary, per) = all.partition(_.getLong(0) == -1L)
    assert(per.nonEmpty && summary.length === 1)
    per.foreach { r =>
      val nAgree = r.getAs[Int]("n_agree")
      // a candidate pair collided on a full band of 16/4 = 4 hashes
      assert(nAgree >= 4 && nAgree <= 16,
        s"pair (${r.getLong(0)},${r.getLong(1)}) n_agree=$nAgree")
      val est = r.getAs[Double]("est_jaccard")
      assert(est === nAgree / 16.0)
      val want = math.round(math.abs(est - r.getAs[Double]("jaccard")) * 10000.0)
      assert(r.getAs[Long]("err_um") === want)
    }
    // byte-identical fixture twins agree on every hash
    assert(per.exists(_.getAs[Int]("n_agree") == 16))
    val meanWant = math.round(
      per.map(_.getAs[Long]("err_um")).sum.toDouble / per.length)
    assert(summary.head.getAs[Long]("err_um") === meanWant)
  }
}
