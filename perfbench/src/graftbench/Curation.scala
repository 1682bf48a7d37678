package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.gf
import graft.operators.{Packing, Sampling}

/**
 * Pretraining-data curation over parquet (doc_id, lang, source, text):
 * Gopher quality filter -> MinHash-LSH dedup -> test-set decontamination ->
 * token-budget language mixture -> sequence packing. One op is one full
 * pass over the corpus, answered by collecting the packed spans.
 *
 * Planted shares (of all rows): exact duplicates 5%, near duplicates 5%
 * (~3% of words replaced), low quality 8%, contaminated by a generated
 * test set 3%; languages are skewed (en 62%). Test-set text uses words the
 * corpus vocabulary never produces, so contamination is exact.
 */
final class Curation(work: String, seed: Long, scale: String, corrupt: Boolean) extends Workload {
  import Curation._

  private val n = if (scale == "tiny") 300 else 600
  private val inputDir = s"$work/inputs/curation-s$seed-$scale"
  private val roles = Array.tabulate(n)(i => role(seed, n, i))
  private val langs = Array.tabulate(n)(i => lang(seed, n, i))
  // en is sampled down to a budget; every other language is kept whole
  private val budgets = Langs.map(l => l -> (if (l == "en") n * 40L else Long.MaxValue / 4)).toMap

  def prepare(spark: SparkSession): Unit = {
    if (!Files.exists(Paths.get(inputDir, "_DONE"))) {
      val (s, size) = (seed, n)
      import spark.implicits._
      spark.range(0, n, 1, 8).as[Long].map(i => row(s, size, i.toInt))
        .toDF("doc_id", "lang", "source", "text").write.mode("overwrite").parquet(s"$inputDir/corpus")
      spark.range(0, TestItems, 1, 1).as[Long].map(k => (f"t$k%04d", testItem(s, k.toInt)))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$inputDir/testset")
      Files.write(Paths.get(inputDir, "_DONE"), Array[Byte]())
    }
    for (r <- Seq(Exact, Near, LowQuality, Contaminated))
      info(s"${r}_share") = roles.count(_ == r).toDouble / n
    info("en_share") = langs.count(_ == "en").toDouble / n
    info("docs") = n
  }

  def warmUp(spark: SparkSession): Unit =
    pass(spark, s"$inputDir/corpus", new Tracer(spark, on = false))

  override def minOps: Int = 3

  private def tokens: Column = size(split(col("text"), " "))

  /** One curation pass; returns (doc_id, lang, tok_start, tok_end, chunk_end). */
  private def pass(spark: SparkSession, corpus: String, tr: Tracer): Array[org.apache.spark.sql.Row] = {
    val raw = tr.span("sources.read_parquet")(tr.cut(spark.read.parquet(corpus)))
    val test = spark.read.parquet(s"$inputDir/testset")
    val good = tr.span("functions.quality_filter")(tr.cut(raw.where(gf.gopherKeep(col("text")))))
    val unique = tr.span("dedup.minhash_lsh")(tr.cut(Dedup.minhashLsh(good, "doc_id", "text")))
    val clean = tr.span("dedup.decontaminate")(tr.cut(
      Dedup.decontaminate(unique, test, "doc_id", "text")))
    val mixed = tr.span("operators.mixture")(tr.cut(
      Sampling.tokenBudgetMixture(clean, "doc_id", "lang", tokens, budgets)))
    tr.span("operators.pack") {
      val rows = Packing.packSequences(mixed, "doc_id", tokens, ContextLen)
        .select("doc_id", "lang", "tok_start", "tok_end", "chunk_end").collect()
      tr.rows(rows.length)
      rows
    }
  }

  private var fill = 0.0

  def op(spark: SparkSession, i: Int, tr: Tracer): Op = {
    val t0 = System.nanoTime
    val rows = pass(spark, s"$inputDir/corpus", tr)
    val ms = Main.secs(t0) * 1000
    Op("pass", ms, n, ok = check(rows, corrupt && i == 0))
  }

  /** Known answers: no low-quality, exact-copy or contaminated row
    * survives; every ordinary row of a language kept whole survives; the
    * packed token spans tile [0, total) in doc_id order. */
  private def check(rows: Array[org.apache.spark.sql.Row], corrupted: Boolean): Boolean = {
    val ids = rows.map(r => r.getString(0).drop(1).toInt)
    val present = new java.util.BitSet(n)
    ids.foreach(present.set)
    val noBad = ids.forall(i => roles(i) != LowQuality && roles(i) != Exact && roles(i) != Contaminated)
    val keptWhole = (0 until n).forall(i => roles(i) != Normal || langs(i) == "en" || present.get(i))
    val sorted = rows.sortBy(_.getString(0))
    val tiled = sorted.indices.forall { k =>
      sorted(k).getLong(2) == (if (k == 0) 0L else sorted(k - 1).getLong(3))
    }
    val total = if (sorted.isEmpty) 0L else sorted.last.getLong(3)
    val chunks = if (sorted.isEmpty) 0L else sorted.map(_.getLong(4)).max + 1
    fill = if (chunks == 0) 0.0 else total.toDouble / (chunks * ContextLen)
    val nearNonEn = (0 until n).filter(i => roles(i) == Near && langs(i) != "en")
    info("near_dup_removed_share") =
      nearNonEn.count(i => !present.get(i)).toDouble / math.max(1, nearNonEn.size)
    info("digest") = java.lang.Long.toHexString(rows.map(r =>
      scala.util.hashing.MurmurHash3.productHash((r.getString(0), r.getLong(2), r.getLong(3))) & 0xffffffffL)
      .foldLeft(0L)(_ ^ _))
    info("packed_docs") = rows.length
    noBad && keptWhole && tiled && total > 0 && !corrupted
  }

  def finish(spark: SparkSession, ops: Seq[Op]): Unit = ()

  def extras(tr: Tracer): Seq[(String, Double, String)] = {
    val read = tr.rowsOut("sources.read_parquet")
    Seq(
      ("functions.quality_filter.keep_ratio",
        if (read == 0) 0.0 else tr.rowsOut("functions.quality_filter").toDouble / read, "ratio"),
      ("dedup.minhash_lsh.jobs", tr.jobs("dedup.minhash_lsh").toDouble, "count"),
      ("dedup.minhash_lsh.join_rows", tr.joinRows("dedup.minhash_lsh").toDouble, "rows"),
      ("dedup.decontaminate.jobs", tr.jobs("dedup.decontaminate").toDouble, "count"),
      ("dedup.decontaminate.join_rows", tr.joinRows("dedup.decontaminate").toDouble, "rows"),
      ("operators.pack.jobs", tr.jobs("operators.pack").toDouble, "count"),
      ("operators.pack.fill_ratio", fill, "ratio"))
  }
}

object Curation {
  val Normal = "normal"; val Exact = "exact_dup"; val Near = "near_dup"
  val LowQuality = "low_quality"; val Contaminated = "contaminated"
  val Langs = Seq("en", "de", "fr", "es", "ja", "zh")
  private val LangWeights = Seq(0.62, 0.12, 0.1, 0.08, 0.05, 0.03)
  val TestItems = 100
  val ContextLen = 2048

  /** Role of row `i` of `n`: the first 20 rows are ordinary, the rest get
    * roles by stratified draw, so every share is exact. */
  def role(seed: Long, n: Int, i: Int): String = {
    val u = if (i < 20) 1.0 else Gen.stratified(seed, 1, n - 20, i - 20)
    if (u >= 0.21) Normal
    else if (u < 0.05) Exact
    else if (u < 0.10) Near
    else if (u < 0.18) LowQuality
    else Contaminated
  }

  /** The ordinary row an exact or near duplicate copies: an earlier one. */
  def original(seed: Long, n: Int, i: Int): Int = {
    var j = (Gen.u(seed, 2, i) * i).toInt
    while (role(seed, n, j) != Normal) j -= 1
    j
  }

  def lang(seed: Long, n: Int, i: Int): String = role(seed, n, i) match {
    case Exact | Near => lang(seed, n, original(seed, n, i))
    case _ =>
      Langs(Gen.skewedBy(Gen.stratified(seed, 3, n, i), LangWeights))
  }

  /** Ordinary text; lengths are stratified, so the corpus size hardly
    * depends on the seed. */
  private def ordinaryText(seed: Long, n: Int, i: Int): String = {
    val r = Gen.rng(seed, 4, i)
    "of the " + Gen.words(r, Gen.longTailAt(Gen.stratified(seed, 10, n, i), 100, 60, 800))
  }

  def text(seed: Long, n: Int, i: Int): String = role(seed, n, i) match {
    case Normal => ordinaryText(seed, n, i)
    case Exact => ordinaryText(seed, n, original(seed, n, i))
    case Near =>
      val r = Gen.rng(seed, 5, i)
      ordinaryText(seed, n, original(seed, n, i)).split(" ")
        .map(w => if (r.nextDouble() < 0.03) Gen.word(Gen.zipfRank(r)) else w).mkString(" ")
    case LowQuality =>
      val r = Gen.rng(seed, 6, i)
      r.nextInt(3) match {
        case 0 => "of the " + Gen.words(r, 15 + r.nextInt(25))
        case 1 => "of the " + Gen.words(r, 120).split(" ").zipWithIndex
          .map { case (w, k) => if (k % 4 == 0) s"#$w" else w }.mkString(" ")
        case _ => "of the " + Gen.words(r, 120).split(" ").zipWithIndex
          .map { case (w, k) => if (k % 2 == 0) r.nextInt(100000).toString else w }.mkString(" ")
      }
    case Contaminated =>
      val r = Gen.rng(seed, 7, i)
      val item = testItem(seed, r.nextInt(TestItems)).split(" ")
      val at = r.nextInt(item.length - 12)
      val words = ordinaryText(seed, n, i).split(" ")
      val mid = words.length / 2
      (words.take(mid) ++ item.slice(at, at + 12) ++ words.drop(mid)).mkString(" ")
  }

  /** Test-set items: "qx"-prefixed words, which ordinary text never has. */
  def testItem(seed: Long, k: Int): String = {
    val r = Gen.rng(seed, 8, k)
    Seq.fill(30)("qx" + Gen.word(Gen.zipfRank(r))).mkString(" ")
  }

  def row(seed: Long, n: Int, i: Int): (String, String, String, String) = {
    val src = Gen.skewed(Gen.u(seed, 9, i), 30)
    (f"c$i%07d", lang(seed, n, i), s"source-$src", text(seed, n, i))
  }
}
