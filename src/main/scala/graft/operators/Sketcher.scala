package graft.operators

/**
 * Near-duplicate shingle sketching (reference: lib/sycamore/sycamore/
 * transforms/sketcher.py:29 Sketcher + functions/simhash.py:84-133): the
 * sketch is `number` min-hashes over a rolling character window of length
 * `window` of the lowercased text.
 *
 * As in the reference, each window is hashed ONCE: a Rabin-Karp polynomial
 * hash (base [[Base]], arithmetic mod 2^64) updated in O(1) per position.
 * Slot j of the sketch is the minimum over all windows of a seeded 64-bit
 * permutation of that hash, a splitmix64 finalizer over `h ^ seed_j`; the
 * seeds are derived from j, so any `number` works. A text shorter than
 * `window` is hashed whole as its single window.
 *
 * The typed (Document) twin of gf.minhashSignature. DocSet.sketchDedup
 * dedups these sketches with Dedup's MinHash-LSH keep-set (band join over
 * distinct sketches) in place of the reference's O(n^2) SketchUniquify.
 */
object Sketcher {

  /** Odd multiplier of the polynomial window hash (a unit mod 2^64). */
  private[graft] val Base = 0xc6a4a7935bd1e995L

  def shingles(text: String, window: Int = 17, number: Int = 16): Array[Long] = {
    require(window >= 1 && number >= 1, s"window ($window) and number ($number) must be >= 1")
    val t = text.toLowerCase
    val seeds = Array.tabulate(number)(seed)
    val mins = Array.fill(number)(Long.MaxValue)
    val w = math.min(window, t.length)
    // Base^(w-1): the weight of the char leaving the window
    var top = 1L
    var h = 0L
    var i = 0
    while (i < w) {
      if (i > 0) top *= Base
      h = h * Base + t.charAt(i)
      i += 1
    }
    var start = 0
    var more = true
    while (more) {
      var j = 0
      while (j < number) {
        val p = permute(h, seeds(j))
        if (p < mins(j)) mins(j) = p
        j += 1
      }
      more = start + w < t.length
      if (more) {
        h = (h - t.charAt(start) * top) * Base + t.charAt(start + w)
        start += 1
      }
    }
    mins
  }

  /** Seed of permutation slot j. */
  private[graft] def seed(j: Int): Long = permute((j + 1L) * 0x9e3779b97f4a7c15L, 0L)

  /** Seeded 64-bit permutation: the splitmix64 finalizer over `h ^ seed`. */
  private[graft] def permute(h: Long, seed: Long): Long = {
    var z = h ^ seed
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Estimated distance in [0,1] between two sketches: fraction of
    * disagreeing minhash slots (reference: sketcher.py shinglesDist). */
  def distance(a: Array[Long], b: Array[Long]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 1.0
    var same = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) same += 1; i += 1 }
    1.0 - same.toDouble / n
  }
}
