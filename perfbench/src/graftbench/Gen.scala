package graftbench

import java.util.SplittableRandom

/**
 * Seeded input generators. Every value is a pure function of
 * (seed, row index), so executors generate rows partition by partition and
 * the main program recomputes any row's attributes to derive exact known answers
 * without ever holding the corpus.
 *
 * Text is drawn Zipf-style from a 50,000-word synthetic vocabulary. The
 * eight most frequent ranks are the Gopher stop words, so ordinary text
 * passes the Gopher rules while planted low-quality text fails them.
 */
object Gen {
  val VocabSize = 50000
  private val Stop = Array("the", "of", "and", "to", "that", "with", "be", "have")
  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "po",
    "gu", "ba", "fe", "ri", "mo", "la", "zu", "ke", "ni", "sho", "tra", "vel", "din", "qua")

  /** Word of Zipf rank r: stop words first, then 2-4 syllable words. */
  def word(r: Int): String =
    if (r < Stop.length) Stop(r)
    else {
      var n = r - Stop.length
      val b = Syl.length
      val len = if (n < b * b) 2 else if (n < b * b + b * b * b) { n -= b * b; 3 }
                else { n -= b * b + b * b * b; 4 }
      val sb = new StringBuilder
      var i = 0
      while (i < len) { sb.append(Syl(n % b)); n /= b; i += 1 }
      sb.toString
    }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def zipfRank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i))

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0,1) from (seed, stream, i), without an RNG object. */
  def u(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 31 + stream) ^ i) >>> 11).toDouble / (1L << 53)

  /** `n` words of Zipf text as sentences of 6-14 words. */
  def words(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var left = 14 + rng.nextInt(9) - 8
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(word(zipfRank(rng)))
      left -= 1
      if (left == 0 || i == n - 1) { sb.append('.'); left = 6 + rng.nextInt(9) }
      i += 1
    }
    sb.toString
  }

  private val perms = new java.util.concurrent.ConcurrentHashMap[(Long, Long, Int), Array[Int]]()

  /** Position of `i` in a seeded shuffle of 0 until n. */
  def rank(seed: Long, stream: Long, n: Int, i: Int): Int =
    perms.computeIfAbsent((seed, stream, n), _ => {
      val r = rng(seed, stream, n)
      val a = Array.range(0, n)
      for (k <- n - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t }
      a
    })(i)

  /** Uniform in (0,1) by stratified draw: the n evenly spaced values
    * (k + 0.5) / n dealt out to rows 0 until n in a seeded order. Every seed
    * draws the same multiset, so planted shares and input sizes are exact
    * and only which row gets which value depends on the seed. */
  def stratified(seed: Long, stream: Long, n: Int, i: Int): Double =
    (rank(seed, stream, n, i) + 0.5) / n

  /** Long-tailed length at quantile q: log-logistic (shape 3) around
    * `median`, clamped. */
  def longTailAt(q: Double, median: Int, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, (median * math.pow(q / (1 - q), 1.0 / 3)).toInt))

  /** Long-tailed length: log-normal around `median`, clamped. */
  def longTail(rng: SplittableRandom, median: Int, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, (median * math.exp(0.6 * gaussian(rng))).toInt))

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Index drawn from explicit category weights summing to 1. */
  def skewedBy(x: Double, weights: Seq[Double]): Int = {
    val k = weights.scanLeft(0.0)(_ + _).tail.indexWhere(x < _)
    if (k < 0) weights.size - 1 else k
  }

  /** Index into a Zipf-skewed categorical of `n` values. */
  def skewed(x: Double, n: Int, s: Double = 1.0): Int = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    skewedBy(x, w.map(_ / w.sum))
  }
}
