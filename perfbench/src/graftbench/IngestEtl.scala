package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.embed.HashEmbedder
import graft.operators.{GreedyTextElementMerger, HtmlPartitioner}
import graft.sources.DocRead

/**
 * Sycamore's headline ETL as closed-loop batches appended to one store:
 * read HTML files -> partition -> merge + split -> explode -> sketch +
 * sketchDedup -> embed -> write. Text-less parent rows reach sketchDedup
 * as a library user's pipeline leaves them.
 *
 * Pages carry header/nav/footer boilerplate and 2-8 sections (long-tailed
 * count). Every section is sized so that it becomes exactly one chunk: a
 * section holds MaxTokens-2..MaxTokens tokens, so the next section header
 * never fits. A stated share of pages repeat one section of an earlier
 * page verbatim, so the number of distinct chunks is known exactly.
 */
final class IngestEtl(work: String, seed: Long, scale: String, corrupt: Boolean) extends Workload {
  import IngestEtl._

  private val pages = if (scale == "tiny") 24 else 240
  private val pool = if (scale == "tiny") 2 else 3
  private val inputDir = s"$work/inputs/ingest_etl-s$seed-$scale"
  private val store = s"$work/store/ingest_etl"
  private val warmDir = s"$inputDir/warm"
  private def batchDir(b: Int) = s"$inputDir/batch-$b"

  def prepare(spark: SparkSession): Unit = {
    if (!Files.exists(Paths.get(inputDir, "_DONE"))) {
      for (b <- -1 until pool) {
        val dir = if (b < 0) warmDir else batchDir(b)
        val (s, n) = (seed, pages)
        Files.createDirectories(Paths.get(dir))
        spark.sparkContext.range(0, n, 1, 4).foreachPartition { it =>
          it.foreach { p =>
            Files.write(Paths.get(dir, f"page-$p%05d.html"),
              html(s, n, b, p.toInt).getBytes(StandardCharsets.UTF_8))
          }
        }
      }
      Files.write(Paths.get(inputDir, "_DONE"), Array[Byte]())
    }
    Main.deleteTree(store)
    val specs = (0 until pool).map(b => (0 until pages).map(p => spec(seed, pages, b, p)))
    val total = specs.flatten
    info("pages_per_batch") = pages
    info("mean_sections") = total.map(_.sections).sum.toDouble / total.size
    info("reuse_page_share") = total.count(_.reuse.isDefined).toDouble / total.size
    info("dup_chunk_share") = total.count(_.reuse.isDefined).toDouble / total.map(_.sections).sum
  }

  def warmUp(spark: SparkSession): Unit =
    pipeline(spark, warmDir, s"$work/store/ingest_warm", new Tracer(spark, on = false))

  override def minOps: Int = 5

  private def pipeline(spark: SparkSession, in: String, out: String, tr: Tracer): Unit = {
    val read = tr.span("sources.read_binary")(tr.cut(DocRead.binary(spark, in, "html")))
    val parts = tr.span("operators.partition")(tr.cut(read.partition(new HtmlPartitioner())))
    val chunks = tr.span("operators.chunk")(tr.cut(
      parts.merge(new GreedyTextElementMerger(MaxTokens)).splitElements(MaxTokens)))
    val exploded = tr.span("docset.explode")(tr.cut(chunks.explode()))
    val deduped = tr.span("dedup.sketch_dedup")(tr.cut(exploded.sketch().sketchDedup()))
    val embedded = tr.span("embed.embed")(tr.cut(deduped.embed(new HashEmbedder(EmbedDim))))
    tr.span("sources.write")(embedded.writeParquet(out))
  }

  def op(spark: SparkSession, i: Int, tr: Tracer): Op = {
    val t0 = System.nanoTime
    pipeline(spark, batchDir(i % pool), s"$store/batch=$i", tr)
    Op("batch", Main.secs(t0) * 1000, pages, ok = true)
  }

  private var parentsKept = 0.0

  def finish(spark: SparkSession, ops: Seq[Op]): Unit = {
    val chunk = col("parentId").isNotNull
    val byBatch = spark.read.parquet(store)
      .groupBy(col("batch"))
      .agg(sum(when(chunk, 0).otherwise(1)).as("parents"),
        sum(when(chunk, 1).otherwise(0)).as("chunks"),
        countDistinct(col("parentId")).as("pages"),
        sum(when(chunk && (col("embedding").isNull || size(col("embedding")) =!= EmbedDim), 1)
          .otherwise(0)).as("bad_embeddings"),
        bit_xor(when(col("batch") < DigestBatches, xxhash64(
          regexp_extract(col("docId"), "[^/]+$", 0), col("textRepresentation"),
          col("embedding"))).otherwise(0L)).as("digest"))
      .collect().map(r => r.getInt(0) -> r).toMap
    for ((op, i) <- ops.zipWithIndex) {
      val specs = (0 until pages).map(p => spec(seed, pages, i % pool, p))
      val expectedChunks = specs.map(_.sections).sum - specs.count(_.reuse.isDefined) +
        (if (corrupt && i == 0) 1 else 0)
      op.ok = byBatch.get(i).exists { r =>
        r.getLong(2) == expectedChunks && r.getLong(3) == pages && r.getLong(4) == 0L
      }
    }
    parentsKept = byBatch.values.map(_.getLong(1)).sum.toDouble / math.max(1, byBatch.size)
    info("parents_kept_per_batch") = parentsKept
    info("digest") = java.lang.Long.toHexString(byBatch.values.map(_.getLong(5)).foldLeft(0L)(_ ^ _))
    info("digest_batches") = math.min(DigestBatches, ops.size)
  }

  def extras(tr: Tracer): Seq[(String, Double, String)] = Seq(
    ("dedup.sketch_dedup.jobs", tr.jobs("dedup.sketch_dedup").toDouble, "count"),
    ("dedup.sketch_dedup.join_rows", tr.joinRows("dedup.sketch_dedup").toDouble, "rows"),
    ("dedup.sketch_dedup.parents_kept", parentsKept, "count"))
}

object IngestEtl {
  val MaxTokens = 128
  val EmbedDim = 64
  val DigestBatches = 2
  val ReuseShare = 0.2
  private val Nav = Seq("Home", "About", "Products", "Blog", "Contact")

  /** Page shape: section count, and the reused section if any:
    * (source page, source section, target section). */
  final case class Spec(sections: Int, reuse: Option[(Int, Int, Int)])

  /** Shape of page `p` of a batch of `n`. Section counts and reuse are
    * stratified draws, so every seed gives a batch the same section counts
    * and the same number of reusing pages, in a seeded order. */
  def spec(seed: Long, n: Int, b: Int, p: Int): Spec = {
    val r = Gen.rng(seed, 100 + b, p)
    val sections = 2 + Gen.skewed(Gen.stratified(seed, 100 + b, n, p), 7, 1.2)
    val reuse =
      if (p > 0 && Gen.stratified(seed, 150 + b, n - 1, p - 1) < ReuseShare) {
        val src = r.nextInt(p)
        val srcSections = spec(seed, n, b, src).sections
        Some((src, 1 + r.nextInt(srcSections - 1), 1 + r.nextInt(sections - 1)))
      } else None
    Spec(sections, reuse)
  }

  /** Section `s` of page `p`: header + paragraphs, sized to one chunk. A
    * reused slot takes the source section's content. */
  def section(seed: Long, n: Int, b: Int, p: Int, s: Int): (String, Seq[String]) =
    spec(seed, n, b, p).reuse match {
      case Some((src, ss, ts)) if ts == s => section(seed, n, b, src, ss)
      case _ =>
        val r = Gen.rng(seed, 200 + b, p * 16L + s)
        val header = s"Topic ${Gen.word(8 + r.nextInt(4000))} ${Gen.word(8 + r.nextInt(4000))}"
        // chunk 0 also holds the 4-token title and the 5 nav items
        val budget = MaxTokens - r.nextInt(3) - 3 - (if (s == 0) 9 else 0)
        val nPara = 2 + r.nextInt(4)
        val cuts = (Seq(0, budget) ++ Seq.fill(nPara - 1)(8 + r.nextInt(budget - 16))).sorted
        val paras = cuts.sliding(2).collect { case Seq(a, z) if z > a => Gen.words(r, z - a) }.toSeq
        (header, paras)
    }

  def html(seed: Long, n: Int, b: Int, p: Int): String = {
    val sp = spec(seed, n, b, p)
    val r = Gen.rng(seed, 300 + b, p)
    val sb = new StringBuilder
    sb.append(s"<!DOCTYPE html>\n<html><head><title>Page $b-$p ${Gen.word(8 + r.nextInt(9000))} ")
      .append(Gen.word(8 + r.nextInt(9000))).append("</title>\n")
      .append("<style>body{font-family:sans-serif} .nav li{display:inline}</style></head>\n<body>\n")
      .append("<header><div class=\"logo\">Example Site</div><form><input name=\"q\"></form>")
      .append("<script>var t = Date.now();</script></header>\n<nav><ul class=\"nav\">")
    Nav.foreach(v => sb.append(s"""<li><a href="/${v.toLowerCase}">$v</a></li>"""))
    sb.append("</ul></nav>\n<main>\n")
    for (s <- 0 until sp.sections) {
      val (header, paras) = section(seed, n, b, p, s)
      sb.append(s"<section><h2>$header</h2>\n")
      paras.foreach(t => sb.append("<p>").append(t).append("</p>\n"))
      sb.append("</section>\n")
    }
    sb.append("</main>\n<footer><p>Copyright 2024 Example Site. All rights reserved.</p>")
      .append("<a href=\"/privacy\">Privacy</a></footer>\n</body></html>\n")
    sb.toString
  }
}
