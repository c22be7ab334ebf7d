package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordlistSearch

class GeneratorSpec extends AnyFunSuite {
  private val n = 200000

  test("corpus words are a function of (seed, index) and match [a-z0-9]{6,10}") {
    val a = (0 until 1000).map(Wordlist.word(7L, _))
    assert(a === (0 until 1000).map(Wordlist.word(7L, _)))
    assert(a !== (0 until 1000).map(Wordlist.word(8L, _)))
    assert(a.forall(_.matches("[a-z0-9]{6,10}")))
    assert(a.map(_.length).toSet === (6 to 10).toSet)
  }

  test("probe stream is a function of the seed and alternates hit and miss") {
    val p = Wordlist.probes(3L, n).take(400).toSeq
    assert(p === Wordlist.probes(3L, n).take(400).toSeq)
    assert(p !== Wordlist.probes(4L, n).take(400).toSeq)
    assert(p.map(_.hit) === Seq.tabulate(400)(_ % 2 == 0))
  }

  test("hits are in the corpus and by-construction misses are absent") {
    val corpus = (0 until n).map(Wordlist.word(11L, _)).toSet
    val p = Wordlist.probes(11L, n).take(2000).toSeq
    assert(p.forall(x => corpus.contains(x.password) == x.hit))
    // each miss shares the first character, so the buckets, of the hit before it
    p.grouped(2).foreach { case Seq(hit, miss) =>
      assert(miss.password.charAt(0) === hit.password.charAt(0))
      assert(WordlistSearch.requiredChunks(Wordlist.Ranges, miss.password) ===
        WordlistSearch.requiredChunks(Wordlist.Ranges, hit.password))
    }
  }

  test("written buckets hold each word once, in the bucket writeBucketed picks") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-corpus")
    val read = try {
      Wordlist.write(dir.toString, 5L, 5000)
      Wordlist.Ranges.flatMap { r =>
        val f = dir.resolve(s"bucket=${r.id}").resolve("part-0.txt")
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split('\n').filter(_.nonEmpty)
          .map(w => (w, r.id))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    assert(read.map(_._1).sorted === (0 until 5000).map(Wordlist.word(5L, _)).sorted)
    assert(read.forall { case (w, id) => Wordlist.bucketOf(w) == id })
  }

  test("entry order is a permutation set by the seed") {
    val names = Harness.Mix
    assert(Harness.order(names, 1L) === Harness.order(names, 1L))
    assert(Harness.order(names, 1L).sorted === names.sorted)
    assert((2L to 6L).map(Harness.order(names, _)).toSet.size > 1)
  }

  test("generated tables are a function of the seed") {
    def rows(seed: Long) = Data.tables(seed, 0.001).map { case (name, _, rs) => name -> rs }
    assert(rows(42L) === rows(42L))
    assert(rows(42L) !== rows(43L))
  }
}
