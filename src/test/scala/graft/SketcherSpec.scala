package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.docset.DocSet
import graft.model.Document
import graft.operators.Sketcher

/** Sketcher.shingles against a reference-style scalar oracle: every window
  * of the lowercased text is hashed from scratch (its polynomial hash
  * computed directly from the substring), then put through the same seeded
  * permutations. The rolling update must agree with it on every text. */
class SketcherSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def polyHash(s: String): Long = s.foldLeft(0L)((h, c) => h * Sketcher.Base + c)

  private def oracle(text: String, window: Int, number: Int): Array[Long] = {
    val t = text.toLowerCase
    val windows =
      if (t.length < window) Seq(t)
      else (0 to t.length - window).map(i => t.substring(i, i + window))
    val hashes = windows.map(polyHash)
    Array.tabulate(number)(j => hashes.map(h => Sketcher.permute(h, Sketcher.seed(j))).min)
  }

  private val alphabet = "abcdefghij KLMNOP.,éß中文İ😀"

  private def randomText(rnd: scala.util.Random, len: Int): String =
    Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString

  private def same(text: String, window: Int, number: Int): Unit =
    assert(Sketcher.shingles(text, window, number).toSeq == oracle(text, window, number).toSeq,
      s"window $window, number $number, text '${text.take(40)}' (${text.length} chars)")

  test("the empty text is its own single window") {
    for (n <- Seq(1, 16, 100)) same("", 17, n)
    assert(Sketcher.shingles("").toSeq == Sketcher.shingles("", 5).toSeq)
  }

  test("rolling hash equals the per-window oracle below, at and above the window length") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 16, 100); window <- Seq(1, 5, 17); len <- Seq(1, window - 1, window,
         window + 1, 3 * window, 400).filter(_ >= 1))
      same(randomText(rnd, len), window, n)
  }

  test("non-ASCII text: lowercasing and surrogate pairs go through the window as chars") {
    // U+0130 lowercases to two chars, so the lowercased text is longer
    same("İSTANBUL ÉTÉ 中文文本 😀 naïve café", 17, 16)
    same("İİİİİİİİİ", 17, 16)
    assert(Sketcher.shingles("CAFÉ AU LAIT AND MORE TEXT").toSeq ==
      Sketcher.shingles("café au lait and more text").toSeq)
  }

  test("any number of slots has distinct seeds") {
    val seeds = (0 until 1000).map(Sketcher.seed)
    assert(seeds.distinct.size == seeds.size)
    assert(Sketcher.shingles("some text long enough to roll a window", 17, 1000).length == 1000)
  }

  test("a one-word edit stays within sketchDedup's threshold; unrelated texts do not") {
    val rnd = new scala.util.Random(11)
    val words = Seq.fill(400)(rnd.alphanumeric.take(3 + rnd.nextInt(6)).mkString.toLowerCase)
    def page(from: Int) = words.slice(from, from + 150).mkString(" ").take(900)
    val base = page(0)
    val edited = base.replaceFirst(" " + words(70) + " ", " substituted ")
    val other = page(200)
    assert(base.length == 900 && edited != base)
    val (a, b, c) = (Sketcher.shingles(base), Sketcher.shingles(edited), Sketcher.shingles(other))
    assert(Sketcher.distance(a, b) <= 0.4)
    assert(Sketcher.distance(a, c) > 0.4)
    val docs = Seq(Document.of("a", text = base), Document.of("b", text = edited),
      Document.of("c", text = other))
    val kept = DocSet.of(spark, docs).sketch().sketchDedup().takeAll().map(_.docId).sorted
    assert(kept == Seq("a", "c"))
  }

  test("window or number below 1 is rejected, not hashed as the empty string") {
    intercept[IllegalArgumentException](Sketcher.shingles("abc", window = 0))
    intercept[IllegalArgumentException](Sketcher.shingles("abc", number = 0))
    // at window 0 every document would get the same sketch, and sketchDedup
    // would keep one document of the whole corpus
    val docs = Seq(Document.of("a", text = "first text"), Document.of("b", text = "second"))
    intercept[IllegalArgumentException](DocSet.of(spark, docs).sketch(window = 0).takeAll())
    intercept[IllegalArgumentException](DocSet.of(spark, docs).sketch(number = 0).takeAll())
  }
}
