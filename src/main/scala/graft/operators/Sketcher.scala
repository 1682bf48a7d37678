package graft.operators

import scala.util.hashing.MurmurHash3

/**
 * Near-duplicate shingle sketching (reference: lib/sycamore/sycamore/
 * transforms/sketcher.py:29 Sketcher + functions/simhash.py:84-133): the
 * sketch is `number` min-hashes over a rolling character window of length
 * `window`.
 *
 * The typed (Document) twin of gf.minhashSignature. DocSet.sketchDedup
 * dedups these sketches with Dedup's MinHash-LSH keep-set (band join over
 * distinct sketches) in place of the reference's O(n^2) SketchUniquify.
 */
object Sketcher {

  def shingles(text: String, window: Int = 17, number: Int = 16): Array[Long] = {
    val t = text.toLowerCase
    val mins = Array.fill(number)(Long.MaxValue)
    if (t.length < window) {
      var j = 0
      while (j < number) { mins(j) = hash(t, j); j += 1 }
    } else {
      var i = 0
      while (i + window <= t.length) {
        val s = t.substring(i, i + window)
        var j = 0
        while (j < number) {
          val h = hash(s, j)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        i += 1
      }
    }
    mins
  }

  /** 64-bit hash from two seeded murmur32 halves. */
  private def hash(s: String, seed: Int): Long = {
    val h1 = MurmurHash3.stringHash(s, seed)
    val h2 = MurmurHash3.stringHash(s, seed * 0x9e3779b9 + 1)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
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
