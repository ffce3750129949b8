package graftbench

import java.util.SplittableRandom

/** Seeded generators for the three workloads. Everything graft later
  * reads is produced here from the run's seed, and the benchmark keeps
  * its own copy (rows and token lists) so every result can be checked
  * against data graft never touched.
  *
  * The vocabulary is a fixed list of pseudo-words (lowercase letters
  * only, so the standard analyzer maps each to itself); texts draw it
  * Zipf-distributed, which gives both rare and very common terms. */
object Gen {
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "ze", "po", "da", "fi", "gu", "he", "ja", "wu")

  /** Word `i` of the fixed vocabulary: the base-16 digits of i + 17,
    * one syllable per digit. Distinct i give distinct words. */
  def word(i: Int): String = {
    var n = i + 17
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, Syllables(n & 15)); n >>= 4 }
    sb.toString
  }

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def weighted[T](rnd: SplittableRandom, choices: Seq[(T, Double)]): T = {
    var u = rnd.nextDouble() * choices.map(_._2).sum
    choices.find { case (_, w) => u -= w; u < 0 }.getOrElse(choices.last)._1
  }

  val VocabSize = 4000
  val vocab: Array[String] = Array.tabulate(VocabSize)(word)
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 40.0, "de" -> 15.0, "fr" -> 15.0, "es" -> 12.0, "it" -> 10.0, "ja" -> 8.0)
  val Dim = 32

  /** One indexed document. `tokens` is the benchmark's own analysis of
    * `text`: the generated words, lowercased. */
  final case class Doc(id: Long, lang: String, source: String, text: String,
      tokens: Array[String], vec: Array[Double], ver: Long = 0L) {
    def nChars: Long = text.length.toLong
    def userBytes: Long =
      8L + lang.length + source.length + text.getBytes("UTF-8").length + 8L + 8L * vec.length + 8L
  }

  /** A text of `len` Zipf-drawn words. Some words are capitalised and
    * some sentences end in punctuation, so the analyzer's lowercasing
    * and splitting are exercised. */
  def text(rnd: SplittableRandom, zipf: Zipf, len: Int): (String, Array[String]) = {
    val toks = Array.fill(len)(vocab(zipf.draw(rnd)))
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      val w = toks(i)
      if (i > 0) sb.append(if (rnd.nextInt(12) == 0) ". " else " ")
      sb.append(if (rnd.nextInt(10) == 0) w.capitalize else w)
      i += 1
    }
    (sb.toString, toks)
  }

  final class Corpus(seed: Long) {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(VocabSize, 1.0)
    private val sources = new Zipf(24, 0.8)
    val centers: Array[Array[Double]] =
      Array.fill(16)(Array.fill(Dim)(rnd.nextDouble() * 2 - 1))

    def vecNear(c: Array[Double], noise: Double): Array[Double] =
      c.map(x => x + gauss(rnd) * noise)

    def doc(id: Long, minLen: Int, maxLen: Int): Doc = {
      val (t, toks) = text(rnd, zipf, minLen + rnd.nextInt(maxLen - minLen + 1))
      Doc(id, weighted(rnd, Langs), f"src${sources.draw(rnd)}%02d", t, toks,
        vecNear(centers(rnd.nextInt(centers.length)), 0.35))
    }
  }

  def gauss(rnd: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian
    val u = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** The event log the `aggs` workload indexes, kept column-wise. */
  final class Events(seed: Long, val n: Int) {
    val Countries: Array[String] = Array("us", "de", "fr", "gb", "jp", "br", "in", "ca",
      "au", "es", "it", "nl", "se", "pl", "mx", "kr")
    val Statuses: Seq[(String, Double)] =
      Seq("200" -> 80.0, "304" -> 8.0, "404" -> 7.0, "500" -> 5.0)
    val Day: Long = 86400L * 1000000000L
    val T0: Long = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    val Days = 14
    val nPaths = 300
    val nUsers = 40000

    val id = new Array[Long](n)
    val tsNs = new Array[Long](n)
    val userId = new Array[Long](n)
    val country = new Array[String](n)
    val status = new Array[String](n)
    val path = new Array[String](n)
    val bytes = new Array[Long](n)
    val latency = new Array[Double](n)

    locally {
      val rnd = new SplittableRandom(seed)
      val cz = new Zipf(Countries.length, 1.1)
      val pz = new Zipf(nPaths, 1.0)
      val uz = new Zipf(nUsers, 0.7)
      var i = 0
      while (i < n) {
        id(i) = i + 1L
        tsNs(i) = T0 + (rnd.nextDouble() * Days * Day).toLong
        userId(i) = uz.draw(rnd) + 1L
        country(i) = Countries(cz.draw(rnd))
        status(i) = weighted(rnd, Statuses)
        path(i) = "/p/" + vocab(pz.draw(rnd))
        bytes(i) = math.exp(gauss(rnd) * 1.5 + 8).toLong
        latency(i) = math.rint(math.exp(gauss(rnd) * 0.8 + 3) * 1000) / 1000
        i += 1
      }
    }

    def userBytes: Long =
      (0 until n).iterator.map(i => 8L * 5 + country(i).length + status(i).length + path(i).length).sum
  }
}
