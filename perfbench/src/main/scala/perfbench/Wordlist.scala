package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.operators.WordlistSearch
import graft.operators.WordlistSearch.ChunkRange

/** The password-probe corpus and probe stream, both functions of a seed.
  *
  * Word `i` is `[a-z0-9]{6,10}`, derived from `(seed, i)` alone, so a hit
  * is drawn by index and its truth is known without holding the corpus.
  * A miss is 11 characters long and so absent by construction; it shares
  * the first character of a drawn word, so it prunes to the same buckets
  * as a hit.
  */
object Wordlist {
  /** The reference's six chunks (`chunksinfo.txt`: sentinels and overlaps). */
  val Ranges: Seq[ChunkRange] = Seq(
    ChunkRange(1, '\u0004', 'b'), ChunkRange(2, 'b', 'f'), ChunkRange(3, 'f', 'k'),
    ChunkRange(4, 'k', 'p'), ChunkRange(5, 'p', 't'), ChunkRange(6, 't', '\uFFFD'))
  val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  val MissLength = 11

  case class Probe(password: String, hit: Boolean)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def chars(h0: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var h = h0
    var k = 0
    while (k < len) {
      if (k % 6 == 0) h = mix(h)
      sb.append(Alphabet.charAt(((h >>> (10 * (k % 6))) & 0x3FF).toInt % Alphabet.length))
      k += 1
    }
    sb.toString
  }

  def word(seed: Long, i: Long): String = {
    val h = mix(mix(seed) ^ i)
    chars(h, 6 + java.lang.Long.remainderUnsigned(h, 5).toInt)
  }

  /** The first range holding the word's lowercased first character, the
    * bucket `WordlistSearch.writeBucketed` places it in.
    */
  def bucketOf(w: String): Int = {
    val c = w.toLowerCase.charAt(0)
    Ranges.find(_.contains(c)).getOrElse(Ranges.last).id
  }

  /** Write words `0 until n` under `base` with `WordlistSearch.writeBucketed`,
    * one bucket at a time so that only the word arrays stay live.
    */
  def write(base: String, seed: Long, n: Int): Unit = {
    val byBucket = Ranges.map(r => r.id -> new ArrayBuffer[String]()).toMap
    var i = 0
    while (i < n) { val w = word(seed, i); byBucket(bucketOf(w)) += w; i += 1 }
    Ranges.foreach { r =>
      WordlistSearch.writeBucketed(byBucket(r.id).toSeq, Seq(r), base)
      byBucket(r.id).clear()
    }
  }

  /** An endless probe stream of hit-then-miss pairs; hits are uniform over
    * the `n`-word corpus of `seed`, and each miss starts with the first
    * character of the hit before it. Streams with other `stream` numbers
    * draw other probes from the same corpus.
    */
  def probes(seed: Long, n: Int, stream: Long = 0L): Iterator[Probe] = {
    val rnd = new scala.util.Random(mix(seed) ^ mix(~stream))
    Iterator.continually {
      val hit = word(seed, rnd.nextInt(n).toLong)
      Seq(Probe(hit, hit = true),
        Probe(s"${hit.charAt(0)}${chars(rnd.nextLong(), MissLength - 1)}", hit = false))
    }.flatten
  }
}
