package bench

import java.util.SplittableRandom

/** Zipf-distributed ranks 0 until n with exponent `s`, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A fixed vocabulary of lowercase words (2-9 letters) drawn by Zipf
  * rank: like a language, it is the same for every seed, so per-byte
  * ratios (compression, tokens per byte) do not move with the seed; the
  * seed only picks the text. Words that would trip the C4 page rules
  * ("javascript", "lorem ipsum") are never generated, so only planted
  * junk trips them.
  */
final class Words private (val types: Array[String], zipf: Zipf) {
  def word(rng: SplittableRandom): String = types(zipf.sample(rng))

  /** `chars` characters of Zipf text: words, spaces and sentence stops. */
  def pool(rng: SplittableRandom, chars: Int): String = {
    val sb = new StringBuilder(chars + 16)
    var inSentence = 0
    while (sb.length < chars) {
      sb ++= word(rng)
      inSentence += 1
      if (inSentence >= 8 + rng.nextInt(10)) { sb ++= ". "; inSentence = 0 } else sb += ' '
    }
    sb.setLength(chars)
    sb.toString
  }
}

object Words {
  private val Banned = Set("lorem", "ipsum", "javascript")

  def apply(n: Int): Words = {
    val rng = new SplittableRandom(0x776f726473L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 2 + rng.nextInt(8)
      val w = Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      if (!Banned(w)) seen += w
    }
    new Words(seen.toArray, new Zipf(n, 1.0))
  }
}
